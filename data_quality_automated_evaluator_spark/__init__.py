"""data_quality_automated_evaluator_spark — a PySpark-native temporal data-quality evaluator
and web-scale quality-filter pipeline.

A from-scratch rebuild (NOT a port) of the capabilities of
``dspetukhov/data-quality-automated-evaluator`` (reference at /root/reference): a
config-driven temporal data-quality evaluator (source readers → SQL
filter → SQL column transforms → time-interval bucketing → single-pass
per-interval descriptive statistics → stage-2 series statistics with
IQR / Z-score outlier detection → markdown report), re-expressed on the
Spark DataFrame / Catalyst stack, plus a quality-filter pipeline for
multi-turn conversation transcripts (language-ID, perplexity, heuristic
quality rules, PII/toxicity scrub, keep/drop decisions, interval stats,
resumable partition-granular sinks).

Layout
------
- ``sources``    readers + env-var credential substitution + schema overrides
- ``functions``  interval parsing, SQL-dialect shim, aggregate expression
                 builders, text statistics, langid, perplexity, scrub, hashing
- ``operators``  preprocess (stage-1 agg), evaluate (stage-2 stats), dedup,
                 similarity search
- ``pipeline``   the transcripts quality-filter pipeline + its DuckDB SQL
                 oracle + resumable sinks
"""

__version__ = "0.1.0"
