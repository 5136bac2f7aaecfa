"""Compiled-regex PII + toxicity scrub (byte-deterministic).

One pass of sequential, precompiled, fully-specified regex
replacements, applied batch-wise with pandas' C-level
``str.replace(regex=True)``. The Spark pandas UDF runs exactly this
function, so the written scrubbed text is byte-exact ``scrub_batch`` of
each turn (golden-tested); the DuckDB ``regexp_replace`` chain built
from the same rule table is the independent check.

Determinism rules:
- patterns are module-level constants compiled once, no locale-dependent
  classes (explicit ASCII ranges only);
- replacements are fixed tokens;
- application order is the list order (card before phone so 16-digit
  runs aren't partially eaten by the phone pattern);
- input is expected NFC-normalized; :func:`scrub_batch` does NOT
  re-normalize (normalization would change bytes of non-PII text).
"""

from __future__ import annotations

import re

import pandas as pd

# Placeholder toxicity lexicon — stands in for a real list; the machinery
# (word-boundary alternation, case-insensitive) is what scales.
TOXIC_LEXICON = ["frakk", "blarghole", "sludgebrain", "gritwit"]

SCRUB_RULES: list[tuple[str, str]] = [
    # 16-digit card numbers (optionally 4x4 grouped)
    (r"\b(?:\d[ -]?){15}\d\b", "<CARD>"),
    # emails
    (r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b", "<EMAIL>"),
    # international-ish phone numbers: +1-555-0123, +44 20 7946 0958, 555-0123
    (r"(?<!\w)\+?\d{1,3}[ -]\d{2,4}(?:[ -]\d{2,4}){1,3}(?!\w)", "<PHONE>"),
    # IPv4
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # toxicity lexicon, whole words, case-insensitive
    (r"(?i)\b(?:" + "|".join(map(re.escape, TOXIC_LEXICON)) + r")\b", "<TOX>"),
]

_COMPILED = [(re.compile(p), r) for p, r in SCRUB_RULES]

# Every PII pattern requires a digit or '@'; the lexicon requires a letter
# from its tokens' first letters. Cheap pre-masks skip the expensive
# replaces on the (vast) majority of clean rows. Pure optimization: rows
# outside the mask cannot match the patterns, so output is unchanged.
_PII_PREMASK = re.compile(r"[0-9@]")
_TOX_PREMASK = re.compile("(?i)" + "|".join(map(re.escape, TOXIC_LEXICON)))


def scrub_batch(texts: pd.Series) -> pd.Series:
    """Scrub a batch of strings; null-safe (nulls pass through as nulls)."""
    notna = texts.notna()
    out = texts.astype("object").copy()
    s = texts[notna].astype(str)

    pii_mask = s.str.contains(_PII_PREMASK, regex=True)
    sub = s[pii_mask]
    for pat, repl in _COMPILED[:-1]:
        sub = sub.str.replace(pat, repl, regex=True)
    s.loc[pii_mask] = sub

    tox_mask = s.str.contains(_TOX_PREMASK, regex=True)
    pat, repl = _COMPILED[-1]
    s.loc[tox_mask] = s[tox_mask].str.replace(pat, repl, regex=True)

    out[notna] = s
    return out


