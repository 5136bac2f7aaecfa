"""Vectorized character-n-gram language identification.

A fastText-flavored linear model: each language's score is a weighted
count of dictionary words, character n-grams, single characters and
code-point ranges, plus a small bonus per ASCII letter. :data:`MODEL`,
:data:`_LATIN_BONUS` and :data:`FOLD` are the whole model, and both
engines are derived from them:

- :func:`langid_frame` (what the Spark pandas UDF runs) joins the batch
  into one NUL-separated UTF-8 buffer and builds its numpy matchers from
  the table: a dictionary word is a whole run of word bytes, looked up by
  its packed bytes; an n-gram is a byte pattern; character classes and
  ranges are tested on the code points decoded at UTF-8 lead bytes. Hits
  are summed per string through the start offsets, with no per-row
  Python beyond the prefix slice and fold.
- ``pipeline/oracle_sql.langid_sql`` generates the DuckDB expressions of
  the same features for every langid oracle.

Both engines read the first :data:`PREFIX_CHARS` characters, drop NUL,
and fold with :data:`FOLD`, not ``lower()``, whose results differ
between Java, DuckDB and Python. :func:`check_model` rejects a table the
two engines would count differently. Model weights are embedded constants
(public-knowledge character statistics), deterministic by construction.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from ._mem import raise_mmap_threshold

raise_mmap_threshold()  # batch temporaries must stay in the arena

# argmax tie order = list order; new languages append at the END so the
# original 5-language tie behavior is unchanged on old corpora
LANGS = ["en", "fr", "de", "ru", "zh", "es", "pt", "it", "ja"]


class Feature(NamedTuple):
    """One weighted feature; each hit adds ``weight`` to ``lang``.

    ``kind`` is ``word`` (a whole run of word characters equal to one of
    ``items``), ``ngram`` (every occurrence of each of ``items``), ``char``
    (each character in ``items``) or ``range`` (each character whose code
    point is in ``items = (low, high)``)."""

    lang: str
    kind: str
    items: tuple
    weight: float


MODEL: tuple[Feature, ...] = (
    # English function words / ngrams
    Feature("en", "word", ("the", "and", "of", "is", "to", "with", "for"), 3.0),
    Feature("en", "ngram", ("th", "ing", "ion"), 1.0),
    # French: accents + function words
    Feature("fr", "char", tuple("éèêàâçùûîôœ"), 2.0),
    Feature("fr", "word",
            ("le", "la", "les", "et", "de", "des", "avec", "chaque"), 3.0),
    # German: umlauts/ß + function words
    Feature("de", "char", tuple("äöüß"), 2.0),
    Feature("de", "word",
            ("der", "die", "das", "und", "mit", "jeden", "über"), 3.0),
    Feature("de", "ngram", ("sch", "ung"), 1.0),
    # Russian: Cyrillic block
    Feature("ru", "range", (0x0400, 0x04FF), 2.0),
    # Chinese: CJK unified ideographs
    Feature("zh", "range", (0x4E00, 0x9FFF), 2.0),
    # Spanish: ñ + inverted punctuation + function words
    Feature("es", "char", tuple("ñ¿¡"), 2.0),
    Feature("es", "word",
            ("el", "los", "las", "una", "por", "con", "como", "pero"), 3.0),
    # Portuguese: nasal vowels (ã õ — absent from the fr/es/it classes)
    # + function words
    Feature("pt", "char", tuple("ãõ"), 2.0),
    Feature("pt", "word",
            ("não", "uma", "dos", "das", "mas", "são", "também", "em"), 3.0),
    # Italian: grave accents not in the fr class + function words
    Feature("it", "char", tuple("ìò"), 2.0),
    Feature("it", "word",
            ("il", "della", "nella", "che", "per", "sono", "non", "gli"), 3.0),
    # Japanese: hiragana + katakana (kanji scores zh; kana is the
    # ja-unique signal, and real Japanese text is kana-dominant)
    Feature("ja", "range", (0x3041, 0x30FF), 2.0),
)

# Latin letters weakly indicate the Latin-script languages (ties broken by
# the stronger features above); keeps plain ASCII junk from scoring zero
# everywhere and lets the confidence threshold kick in. One hit per [a-z]
# character, added after every MODEL feature.
_LATIN_BONUS = {
    "en": 0.05, "fr": 0.02, "de": 0.02, "es": 0.02, "pt": 0.02, "it": 0.02,
}

# The fold applied to the prefix before any feature is counted; every
# entry maps one character to one character.
FOLD: dict[str, str] = {
    # typographic punctuation → the (equally non-word) ASCII it stands for
    "\u00a0": " ", "\u2009": " ", "\u202f": " ",  # NBSP, thin, narrow NBSP
    "‘": "'", "’": "'", "“": '"', "”": '"',       # curly quotes
    "«": '"', "»": '"',                            # guillemets
    "…": " ",                                      # ellipsis
    "–": "-", "—": "-",                            # en/em dash
    # case: ASCII, Latin-1 À–Þ except ×, and Œ
    **{chr(c): chr(c + 0x20) for c in range(ord("A"), ord("Z") + 1)},
    **{chr(c): chr(c + 0x20) for c in range(0xC0, 0xDF) if c != 0xD7},
    "Œ": "œ",
}

# A word character, checked after the fold: [0-9a-z_] or any non-ASCII
# character except the Spanish inverted marks.
WORD_ASCII = "0123456789_abcdefghijklmnopqrstuvwxyz"
NONWORD = "¿¡"

UNKNOWN = "und"
MIN_SCORE = 0.5  # absolute score floor; below it the label is 'und'

# Language ID needs only a prefix (fastText-style models routinely cap input);
# keeps 8KB junk blobs from dominating batch cost.
PREFIX_CHARS = 400

_MAX_WORD_BYTES = 8  # a dictionary word's bytes pack into one uint64


def check_model(model: tuple[Feature, ...] = MODEL) -> None:
    """Raise ``ValueError`` for a feature the numpy kernel and the DuckDB
    SQL generated from it would count differently."""
    for f in model:
        bad = f"{f.lang} {f.kind} feature {f.items!r}"
        if f.weight != int(f.weight):
            # integral weights keep every partial sum exact, so the two
            # engines' different summation orders give equal scores
            raise ValueError(f"{bad}: non-integral weight")
        if (f.kind == "range" and f.items[0] < 0x80) or (f.kind == "char" and any(
                len(c) != 1 or c < "\x80" for c in f.items)):
            # the kernel decodes code points at non-ASCII lead bytes only
            raise ValueError(f"{bad}: not non-ASCII characters")
        if f.kind == "word" and (len(set(f.items)) < len(f.items) or any(
                len(w.encode()) > _MAX_WORD_BYTES for w in f.items)):
            # the kernel packs each word into a uint64 and would add a
            # repeated word twice
            raise ValueError(f"{bad}: repeated or longer than {_MAX_WORD_BYTES} bytes")
        if f.kind == "ngram" and any(
                g[:k] == g[-k:] for g in f.items for k in range(1, len(g))):
            # numpy counts every start, DuckDB non-overlapping matches
            raise ValueError(f"{bad}: an ngram can overlap itself")


check_model()

# ---------------------------------------------------------------------------
# numpy matchers, built from the table
# ---------------------------------------------------------------------------

_LANG_IX = {lang: i for i, lang in enumerate(LANGS)}
_FOLD_TABLE = str.maketrans({**FOLD, "\x00": None})

_WORD_BYTE = np.zeros(256, dtype=bool)  # NONWORD chars are cleared per batch
_WORD_BYTE[list(WORD_ASCII.encode())] = True
_WORD_BYTE[0x80:] = True
_NONWORD = [(ord(c), len(c.encode())) for c in NONWORD]


def _word_table() -> tuple[np.ndarray, np.ndarray]:
    """Every dictionary word's bytes packed little-endian into a uint64
    (sorted), and its weight per language."""
    weights: dict[int, np.ndarray] = {}
    for f in MODEL:
        for w in f.items if f.kind == "word" else ():
            key = int.from_bytes(w.encode(), "little")
            weights.setdefault(key, np.zeros(len(LANGS)))[_LANG_IX[f.lang]] += f.weight
    keys = sorted(weights)
    return np.array(keys, dtype=np.uint64), np.array([weights[k] for k in keys])


_WORD_KEYS, _WORD_WEIGHTS = _word_table()
_WORD_LANGS = np.flatnonzero(_WORD_WEIGHTS.any(axis=0))
_WORD_LENS = [len(w.encode()) for f in MODEL if f.kind == "word" for w in f.items]

_NGRAMS = [(_LANG_IX[f.lang], g.encode(), f.weight)
           for f in MODEL if f.kind == "ngram" for g in f.items]
_CODE_POINT_FEATURES = [
    (_LANG_IX[f.lang], f.kind,
     np.array([ord(c) for c in f.items]) if f.kind == "char" else f.items,
     f.weight)
    for f in MODEL if f.kind in ("char", "range")
]


def _pattern_positions(buf: np.ndarray, pat: bytes) -> np.ndarray:
    """Start indices of every occurrence of ``pat`` in ``buf``."""
    limit = len(buf) - len(pat) + 1
    if limit <= 0:
        # pattern longer than buffer; a negative slice bound would wrap
        # around and leave stale candidates that index past the buffer
        return np.empty(0, dtype=np.int64)
    idx = np.flatnonzero(buf[:limit] == pat[0])
    for j in range(1, len(pat)):
        if not idx.size:
            return idx
        idx = idx[buf[idx + j] == pat[j]]
    return idx


def _code_points(buf: np.ndarray, lead: np.ndarray) -> np.ndarray:
    """Code points of the non-ASCII characters whose lead bytes are at
    ``lead`` (the buffer is valid UTF-8, surrogates passed through)."""
    last = len(buf) - 1
    b0 = buf[lead].astype(np.int64)
    b1, b2, b3 = (
        buf[np.minimum(lead + k, last)].astype(np.int64) & 0x3F for k in (1, 2, 3)
    )
    return np.where(
        b0 < 0xE0, ((b0 & 0x1F) << 6) | b1,
        np.where(b0 < 0xF0, ((b0 & 0x0F) << 12) | (b1 << 6) | b2,
                 ((b0 & 0x07) << 18) | (b1 << 12) | (b2 << 6) | b3),
    )


def _word_hits(buf: np.ndarray, lead: np.ndarray, cps: np.ndarray):
    """(start, dictionary row) of every run of word bytes that is a
    dictionary word."""
    wc = _WORD_BYTE[buf]
    for cp, width in _NONWORD:
        at = lead[cps == cp]
        for k in range(width):
            wc[at + k] = False
    edges = np.flatnonzero(np.diff(wc, prepend=False, append=False))
    run_start, run_len = edges[0::2], edges[1::2] - edges[0::2]
    cand = (run_len >= min(_WORD_LENS)) & (run_len <= max(_WORD_LENS))
    run_start, run_len = run_start[cand], run_len[cand]
    key = np.zeros(len(run_start), dtype=np.uint64)
    for j in range(max(_WORD_LENS)):
        byte = buf[np.minimum(run_start + j, len(buf) - 1)].astype(np.uint64)
        byte[run_len <= j] = 0
        key |= byte << np.uint64(8 * j)
    row = np.minimum(np.searchsorted(_WORD_KEYS, key), len(_WORD_KEYS) - 1)
    hit = _WORD_KEYS[row] == key
    return run_start[hit], row[hit]


def langid_frame(texts: pd.Series) -> pd.DataFrame:
    """Per-language scores + argmax label for a batch of strings.

    Returns a DataFrame with one ``score_<lang>`` column per language
    plus ``lang`` (argmax label, ``und`` when max score < MIN_SCORE).
    """
    prefixes = [
        t[:PREFIX_CHARS].translate(_FOLD_TABLE)
        for t in texts.fillna("").astype(str).tolist()
    ]
    n = len(prefixes)
    buf = np.frombuffer(
        "\x00".join(prefixes).encode("utf-8", "surrogatepass"), dtype=np.uint8
    )
    starts = np.concatenate([[0], np.flatnonzero(buf == 0) + 1])
    scores = np.zeros((n, len(LANGS)), dtype=np.float64)

    def segments(pos: np.ndarray) -> np.ndarray:
        # match positions → owning string via the start offsets
        return np.searchsorted(starts, pos, side="right") - 1

    def add_hits(lang: int, pos: np.ndarray, w: float) -> None:
        if pos.size:
            scores[:, lang] += np.bincount(segments(pos), minlength=n) * w

    lead = np.flatnonzero(buf >= 0xC0)
    cps = _code_points(buf, lead)

    word_pos, word_row = _word_hits(buf, lead, cps)
    if word_pos.size:
        seg = segments(word_pos)
        for lang in _WORD_LANGS:
            scores[:, lang] += np.bincount(
                seg, weights=_WORD_WEIGHTS[word_row, lang], minlength=n
            )
    for lang, pat, w in _NGRAMS:
        add_hits(lang, _pattern_positions(buf, pat), w)
    for lang, kind, items, w in _CODE_POINT_FEATURES:
        if kind == "char":
            m = np.isin(cps, items)
        else:
            m = (cps >= items[0]) & (cps <= items[1])
        add_hits(lang, lead[m], w)

    # Latin [a-z] bonus — dense, so segment-sum an int mask instead of
    # walking sparse indices (reduceat segments exact: starts strictly
    # increasing, every string owns ≥1 slot incl. its separator)
    latin = ((buf >= ord("a")) & (buf <= ord("z"))).astype(np.int64)
    if n:
        latin = np.append(latin, 0)  # keep every start index in range
        latin_counts = np.add.reduceat(latin, starts).astype(np.float64)
        for lang, w in _LATIN_BONUS.items():
            scores[:, _LANG_IX[lang]] += latin_counts * w

    best = scores.argmax(axis=1)
    best_score = scores.max(axis=1)
    labels = np.array(LANGS, dtype=object)[best]
    labels[best_score < MIN_SCORE] = UNKNOWN
    out = pd.DataFrame(
        scores, index=texts.index, columns=[f"score_{l}" for l in LANGS]
    )
    out["lang"] = labels
    return out


def langid_label(texts: pd.Series) -> pd.Series:
    """Just the label column (the pandas-UDF hot path)."""
    return langid_frame(texts)["lang"].astype(str)
