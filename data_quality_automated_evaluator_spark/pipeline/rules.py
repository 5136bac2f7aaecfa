"""Keep/drop rules: thresholds + the decision expression.

Each rule is a named boolean; ``keep`` is their conjunction. The same
thresholds object drives both the Spark expressions and the DuckDB
oracle (``oracle_sql.keep_flags_oracle_sql``), so a threshold change can
never split the two implementations.

Rule inventory (per BASELINE north_star: length / repetition /
symbol-ratio / role-consistency per turn and per conversation, plus
langid + perplexity):

- ``r_len``          1 ≤ n_chars ≤ max_chars
- ``r_symbol``       symbol_ratio ≤ max_symbol_ratio
- ``r_repetition``   distinct_token_ratio ≥ min_distinct_ratio when
                     n_tokens ≥ repetition_min_tokens (short texts pass)
- ``r_lang``         lang ∈ allowed_langs
- ``r_ppl``          ppl ≤ max_ppl
- ``r_role``         role ∈ {user, assistant, tool, system} and
                     tool is non-null iff role == 'tool'
- ``c_first_role``   conversation starts with 'user'
- ``c_alternation``  no adjacent equal user/assistant roles
- ``c_n_turns``      min_turns ≤ conv_n_turns ≤ max_turns
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VALID_ROLES = ["user", "assistant", "tool", "system"]

RULE_NAMES = [
    "r_len",
    "r_symbol",
    "r_repetition",
    "r_lang",
    "r_ppl",
    "r_role",
    "c_first_role",
    "c_alternation",
    "c_n_turns",
]


@dataclass(frozen=True)
class Thresholds:
    max_chars: int = 8000
    max_symbol_ratio: float = 0.30
    min_distinct_ratio: float = 0.30
    repetition_min_tokens: int = 10
    allowed_langs: tuple[str, ...] = ("en",)
    max_ppl: float = 30.0
    min_turns: int = 2
    max_turns: int = 1000


def rule_columns(t: Thresholds = Thresholds()) -> dict[str, Column]:
    """Boolean Column per rule, over the feature columns produced by
    ``with_turn_features`` + ``with_conversation_features``."""
    return {
        "r_len": (F.col("n_chars") >= 1) & (F.col("n_chars") <= t.max_chars),
        "r_symbol": F.col("symbol_ratio") <= t.max_symbol_ratio,
        "r_repetition": (F.col("n_tokens") < t.repetition_min_tokens)
        | (F.col("distinct_token_ratio") >= t.min_distinct_ratio),
        "r_lang": F.col("lang").isin(*t.allowed_langs),
        "r_ppl": F.col("ppl") <= t.max_ppl,
        "r_role": F.col("role").isin(*VALID_ROLES)
        & (F.col("tool").isNotNull() == (F.col("role") == "tool")),
        "c_first_role": F.col("conv_first_role") == "user",
        "c_alternation": ~F.col("conv_role_violation"),
        "c_n_turns": (F.col("conv_n_turns") >= t.min_turns)
        & (F.col("conv_n_turns") <= t.max_turns),
    }


def with_rules(df: DataFrame, t: Thresholds = Thresholds()) -> DataFrame:
    """Add one boolean column per rule plus the conjunction ``keep``."""
    rules = rule_columns(t)
    df = df.withColumns(rules)
    keep = None
    for name in RULE_NAMES:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return df.withColumn("keep", keep)
