"""DuckDB SQL oracle for the FULL quality-filter keep conjunction.

The flagship pipeline was the one substantive driver query without a
value-checked oracle: langid and the heuristic rules were SQL-oracled
individually, but the char-bigram perplexity term made the end-to-end
keep/drop decision "rows-only". This module closes that gap by
expressing the ENTIRE pipeline — including the bigram language model —
in one DuckDB SQL statement:

- the LM is TRAINED in SQL from the same embedded corpus the Python
  model trains on (:data:`..functions.perplexity._CORPUS`): byte-class
  the corpus, count bigrams, add-one smoothing, ``ln`` — identical
  arithmetic, so there is no weights table to keep in sync;
- byte-class parity with the numpy byte-domain scorer is exact: each
  character expands to ``octet_length(encode(ch))`` entries (a
  multi-byte UTF-8 char contributes that many OOV classes, exactly like
  the ``np.frombuffer`` byte view), upper-case ASCII folds via
  codepoint arithmetic, and the alphabet lookup is ``strpos`` on the
  same 48-char alphabet string;
- scoring is explode-chars → ordered window ``lag`` for bigrams → join
  the 49×49 LM → ``avg`` log-prob → ``exp(-m)`` clamped to the same
  sentinel. Measured max relative ppl difference vs the numpy scorer on
  the full fixture: 3e-14 — far inside the keep-threshold margin;
- the text-stat inputs and langid come from the SQL generated from
  their one definitions (``functions/textstats`` builders, the
  ``functions/langid`` model table), the conversation features from
  window functions, and the thresholds from the SAME
  :class:`..pipeline.rules.Thresholds` object the Spark side uses.

Cited reference behavior: the reference evaluates quality rules and
reports pass rates over a single table (reference handle_data.py /
evaluate.py); the keep-conjunction semantics here are this repo's
BASELINE quality_filter tier contract.
"""

from __future__ import annotations

from ..functions.langid import (
    _LATIN_BONUS, FOLD, LANGS, MIN_SCORE, MODEL, NONWORD, UNKNOWN, WORD_ASCII,
    Feature,
)
from ..functions.langid import PREFIX_CHARS as LANGID_PREFIX
from ..functions.perplexity import PPL_MAX, PREFIX_CHARS, _ALPHABET, _CORPUS
from ..functions.textstats import rule_inputs_sql
from .rules import Thresholds

_V = len(_ALPHABET) + 1  # 49 classes: alphabet + OOV
_OOV = _V - 1

# byte-class sequence of column ``s`` in source ``__SRC__`` (id, i, j, cls):
# one row per UTF-8 BYTE, ordered by (char position, byte index)
_CLS_TEMPLATE = """
  SELECT id, i, j,
         CASE WHEN k > 1 THEN {oov}
              WHEN p = 0 THEN {oov}
              ELSE p - 1 END AS cls
  FROM (
    SELECT id, i, j, k, strpos('{alpha}',
             chr(CASE WHEN cp BETWEEN 65 AND 90 THEN cp + 32 ELSE cp END)) AS p
    FROM (
      SELECT id, i, octet_length(encode(ch)) AS k, unicode(ch) AS cp,
             UNNEST(range(octet_length(encode(ch)))) AS j
      FROM (
        SELECT id, i, substr(s, i, 1) AS ch
        FROM __SRC__, UNNEST(range(1, length(s) + 1)) AS t(i)
      )
    )
  )
"""

def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _re_class(ranges: list[tuple[int, int]]) -> str:
    """RE2 character class of code-point ranges (merged, escaped)."""
    merged: list[tuple[int, int]] = []
    for lo, hi in sorted(ranges):
        if merged and merged[-1][1] + 1 >= lo:
            lo, hi = merged[-1][0], max(hi, merged.pop()[1])
        merged.append((lo, hi))
    return "[" + "".join(
        f"\\x{{{lo:x}}}" + (f"-\\x{{{hi:x}}}" if hi > lo else "") for lo, hi in merged
    ) + "]"


def _word_run_re() -> str:
    """RE2 pattern of one maximal run of langid word characters."""
    ranges, lo = [(ord(c), ord(c)) for c in WORD_ASCII], 0x80
    for c in sorted(NONWORD):
        ranges.append((lo, ord(c) - 1))
        lo = ord(c) + 1
    return _re_class(ranges + [(lo, 0x10FFFF)]) + "+"


def _feature_counts_sql(f: Feature) -> list[str]:
    """Hit counts of one MODEL feature over prefix ``s`` and its word
    runs ``w``."""
    if f.kind == "word":
        words = ", ".join(map(_sql_str, f.items))
        return [f"len(list_filter(w, x -> x IN ({words})))"]
    if f.kind == "ngram":
        return [f"(len(string_split(s, {_sql_str(g)})) - 1)" for g in f.items]
    if f.kind == "char":
        return [f"(length(s) - length(translate(s, {_sql_str(''.join(f.items))}, '')))"]
    return [f"len(regexp_extract_all(s, '{_re_class([f.items])}'))"]


def _score_sql(lang: str) -> str:
    terms = [
        f"CAST({count} AS DOUBLE) * {f.weight!r}::DOUBLE"
        for f in MODEL if f.lang == lang for count in _feature_counts_sql(f)
    ]
    if lang in _LATIN_BONUS:
        terms.append(f"CAST(latin AS DOUBLE) * {_LATIN_BONUS[lang]!r}::DOUBLE")
    return " + ".join(terms) or "0.0"


def langid_sql(src: str, keys: tuple[str, ...] = (), text: str = "text") -> str:
    """``SELECT keys…, score_<lang>…, lang FROM src``: the langid model's
    per-language scores of column ``text`` and their argmax (first in
    LANGS order on ties, UNKNOWN below MIN_SCORE), generated from
    functions/langid.MODEL — the one DuckDB twin of ``langid_frame``
    behind every langid oracle."""
    k = "".join(f"{c}, " for c in keys)
    cols = [f"score_{lang}" for lang in LANGS]
    scores = ",\n      ".join(f"{_score_sql(lang)} AS {c}" for lang, c in zip(LANGS, cols))
    clauses = [f"WHEN greatest({', '.join(cols)}) < {MIN_SCORE!r} THEN '{UNKNOWN}'"]
    for i, (lang, col) in enumerate(zip(LANGS[:-1], cols)):
        cond = " AND ".join(f"{col} >= {r}" for r in cols[i + 1:])
        clauses.append(f"WHEN {cond} THEN '{lang}'")
    clauses.append(f"ELSE '{LANGS[-1]}'")
    case = "\n    ".join(clauses)
    latin = _re_class([(ord("a"), ord("z"))])
    # the prefix: the first PREFIX_CHARS characters, NUL removed, folded
    prefix = (f"translate(replace(substr(coalesce({text}, ''), 1, {LANGID_PREFIX}), chr(0), ''),"
              f" {_sql_str(''.join(FOLD))}, {_sql_str(''.join(FOLD.values()))})")
    return f"""SELECT *, CASE
    {case} END AS lang
FROM (
  SELECT {k}
      {scores}
  FROM (
    SELECT {k}s, regexp_extract_all(s, '{_word_run_re()}') AS w,
           len(regexp_extract_all(s, '{latin}')) AS latin
    FROM (SELECT {k}{prefix} AS s FROM {src})
  )
)"""


def ppl_chain_ctes() -> str:
    """CTE fragment that scores per-(conv_id, turn_idx) char-bigram
    perplexity in pure SQL — the LM trained in-query from the embedded
    corpus, byte-class parity with the numpy scorer (module docstring).

    Requires a prior CTE ``t(conv_id, turn_idx, …, text)``; emits CTEs
    ``txt`` … ``ppl`` where ``ppl`` is (conv_id, turn_idx, ppl). Shared
    verbatim by the keep-flags oracle and the perplexity-tier oracle so
    the two SQL scorers cannot drift apart.
    """
    alpha_sql = _ALPHABET.replace("'", "''")
    corpus_sql = _CORPUS.replace("'", "''")
    cls = _CLS_TEMPLATE.format(oov=_OOV, alpha=alpha_sql)
    return rf"""txt AS (
  SELECT conv_id || '|' || turn_idx AS id, conv_id, turn_idx,
         replace(substr(coalesce(text, ''), 1, {PREFIX_CHARS}), chr(0), '') AS s
  FROM t
),
corpus AS (SELECT '0' AS id, '{corpus_sql}' AS s),
ccls AS ({cls.replace('__SRC__', 'corpus')}),
cbig AS (SELECT lag(cls) OVER (ORDER BY i, j) AS prev, cls AS cur FROM ccls),
obs AS (SELECT prev, cur, count(*) AS c FROM cbig WHERE prev IS NOT NULL GROUP BY 1, 2),
rowtot AS (SELECT prev, sum(c) AS rc FROM obs GROUP BY 1),
lm AS (
  SELECT g1.i AS prev, g2.i AS cur,
         ln((1.0 + coalesce(o.c, 0)) / ({_V} + coalesce(rt.rc, 0))) AS logp
  FROM (SELECT UNNEST(range({_V})) AS i) g1
  CROSS JOIN (SELECT UNNEST(range({_V})) AS i) g2
  LEFT JOIN obs o ON o.prev = g1.i AND o.cur = g2.i
  LEFT JOIN rowtot rt ON rt.prev = g1.i
),
tcls AS ({cls.replace('__SRC__', 'txt')}),
tbig AS (
  SELECT id, lag(cls) OVER (PARTITION BY id ORDER BY i, j) AS prev, cls AS cur
  FROM tcls
),
score AS (
  SELECT b.id, avg(lm.logp) AS m
  FROM tbig b JOIN lm ON lm.prev = b.prev AND lm.cur = b.cur
  WHERE b.prev IS NOT NULL GROUP BY b.id
),
ppl AS (
  SELECT x.conv_id, x.turn_idx,
         least(coalesce(exp(-s.m), {PPL_MAX}), {PPL_MAX}) AS ppl
  FROM txt x LEFT JOIN score s ON s.id = x.id
)"""


def heuristic_rules_sql(t: Thresholds) -> str:
    """``r_len``, ``r_symbol`` and ``r_repetition`` over the rule-input
    columns (``textstats.rule_inputs_sql``), as ``rules.rule_columns``
    and ``textstats.spark_text_features`` define them."""
    return f"""(n_chars >= 1 AND n_chars <= {t.max_chars}) AS r_len,
    (CASE WHEN n_chars > 0 THEN CAST(n_symbols AS DOUBLE) / n_chars ELSE 0.0 END
       <= {t.max_symbol_ratio}) AS r_symbol,
    (n_tokens < {t.repetition_min_tokens} OR
     CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END
       >= {t.min_distinct_ratio}) AS r_repetition"""


def keep_flags_oracle_sql(
    parquet_path: str, t: Thresholds | None = None, by_lang: bool = False
) -> str:
    """Full keep/drop oracle SQL over a transcripts parquet file.

    Output schema (sorted by conv_id, turn_idx): conv_id, turn_idx,
    keep, and the nine rule flags — matching
    ``quality_keep_flags_transcripts`` column-for-column.
    With ``by_lang=True`` the same rule derivation is instead aggregated
    to per-predicted-language keep rates (lang, n_turns, n_keep,
    keep_rate) — the fairness/mix view of the pipeline's labels.
    """
    t = t or Thresholds()
    return f"""
WITH t AS (
  SELECT conv_id, turn_idx, role, tool, text FROM read_parquet('{parquet_path}')
),
feat AS (
  SELECT conv_id, turn_idx, role, tool,
         {rule_inputs_sql("coalesce(text, '')")}
  FROM t
),
lang AS (
{langid_sql("t", ("conv_id", "turn_idx"))}
),
{ppl_chain_ctes()},
conv AS (
  SELECT f.conv_id, f.turn_idx, f.role, f.tool,
         f.n_chars, f.n_tokens, f.n_symbols, f.n_distinct,
         l.lang, p.ppl,
         lag(f.role) OVER (PARTITION BY f.conv_id ORDER BY f.turn_idx) AS prev_role,
         count(*) OVER (PARTITION BY f.conv_id) AS conv_n_turns,
         max(CASE WHEN f.turn_idx = 0 THEN f.role END)
           OVER (PARTITION BY f.conv_id) AS conv_first_role
  FROM feat f
  JOIN lang l ON l.conv_id = f.conv_id AND l.turn_idx = f.turn_idx
  JOIN ppl p ON p.conv_id = f.conv_id AND p.turn_idx = f.turn_idx
),
viol AS (
  SELECT *,
         max(CASE WHEN prev_role IN ('user','assistant') AND role = prev_role
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id) AS conv_role_violation
  FROM conv
),
flags AS (
  SELECT conv_id, turn_idx, lang,
    {heuristic_rules_sql(t)},
    (lang IN ({', '.join(map(_sql_str, t.allowed_langs))})) AS r_lang,
    (ppl <= {t.max_ppl}) AS r_ppl,
    (role IN ('user','assistant','tool','system')
       AND ((tool IS NOT NULL) = (role = 'tool'))) AS r_role,
    (conv_first_role = 'user') AS c_first_role,
    (conv_role_violation = 0) AS c_alternation,
    (conv_n_turns >= {t.min_turns} AND conv_n_turns <= {t.max_turns}) AS c_n_turns
  FROM viol
)
{_keep_final_select(by_lang)}
"""


def _keep_final_select(by_lang: bool) -> str:
    conj = (
        "(r_len AND r_symbol AND r_repetition AND r_lang AND r_ppl AND r_role"
        " AND c_first_role AND c_alternation AND c_n_turns)"
    )
    if by_lang:
        return f"""SELECT lang,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN {conj} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(CAST(sum(CASE WHEN {conj} THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT), 6) AS keep_rate
FROM flags GROUP BY lang ORDER BY lang"""
    return f"""SELECT conv_id, turn_idx,
       {conj} AS keep,
       r_len, r_symbol, r_repetition, r_lang, r_ppl, r_role,
       c_first_role, c_alternation, c_n_turns
FROM flags ORDER BY conv_id, turn_idx"""
