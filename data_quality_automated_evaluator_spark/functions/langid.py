"""Vectorized character-n-gram language identification.

A fastText-flavored linear model: per-language scores are weighted
counts of discriminative character n-grams / character classes. The
:func:`langid_frame` core runs inside the Spark pandas UDF (Arrow
batches); the DuckDB oracle re-expresses the same model spec in SQL
(``pipeline/oracle_sql.LANGID_SQL_SCORES``).

Two counting backends:

- **numpy byte-domain** (:func:`langid_frame`, what the UDF runs): the
  batch is joined into one NUL-separated UTF-8 buffer; every feature becomes
  shifted byte-equality masks (word boundaries via a 256-entry
  word-char table, accented classes via their UTF-8 lead/continuation
  bytes) accumulated per language and summed per string with
  ``np.add.reduceat``. Zero per-row Python, ~5× the regex backend.
- **regex reference** (:func:`langid_frame_regex`): the readable spec,
  pandas ``str.count`` per feature. The parity test pins numpy == regex
  on realistic corpora.

Model weights are embedded constants (public-knowledge character
statistics), deterministic by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ._mem import raise_mmap_threshold

raise_mmap_threshold()  # batch temporaries must stay in the arena

# argmax tie order = list order; new languages append at the END so the
# original 5-language tie behavior is unchanged on old corpora
LANGS = ["en", "fr", "de", "ru", "zh", "es", "pt", "it", "ja"]

# (language, regex pattern, weight); counts are per-character-ngram hits.
_FEATURES: list[tuple[str, str, float]] = [
    # English function words / ngrams
    ("en", r"\bthe\b|\band\b|\bof\b|\bis\b|\bto\b|\bwith\b|\bfor\b", 3.0),
    ("en", r"th|ing|ion", 1.0),
    # French: accents + function words
    ("fr", r"[éèêàâçùûîôœ]", 2.0),
    ("fr", r"\ble\b|\bla\b|\bles\b|\bet\b|\bde\b|\bdes\b|\bavec\b|\bchaque\b", 3.0),
    # German: umlauts/ß + function words
    ("de", r"[äöüß]", 2.0),
    ("de", r"\bder\b|\bdie\b|\bdas\b|\bund\b|\bmit\b|\bjeden\b|\büber\b", 3.0),
    ("de", r"sch|ung", 1.0),
    # Russian: Cyrillic block
    ("ru", r"[Ѐ-ӿ]", 2.0),
    # Chinese: CJK unified ideographs
    ("zh", r"[一-鿿]", 2.0),
    # Spanish: ñ + inverted punctuation + function words
    ("es", r"[ñ¿¡]", 2.0),
    ("es", r"\bel\b|\blos\b|\blas\b|\buna\b|\bpor\b|\bcon\b|\bcomo\b|\bpero\b", 3.0),
    # Portuguese: nasal vowels (ã õ — absent from the fr/es/it classes)
    # + function words
    ("pt", r"[ãõ]", 2.0),
    ("pt", r"\bnão\b|\buma\b|\bdos\b|\bdas\b|\bmas\b|\bsão\b|\btambém\b|\bem\b", 3.0),
    # Italian: grave accents not in the fr class + function words.
    # Every dictionary word is ASCII-edged: RE2's \b (the DuckDB oracle
    # dialect) is ASCII-only, so an accent-final word like "più" can
    # never match \bword\b there while both Python backends count it —
    # "non" carries the same everyday-Italian signal without the trap.
    ("it", r"[ìò]", 2.0),
    ("it", r"\bil\b|\bdella\b|\bnella\b|\bche\b|\bper\b|\bsono\b|\bnon\b|\bgli\b", 3.0),
    # Japanese: hiragana + katakana (kanji scores zh; kana is the
    # ja-unique signal, and real Japanese text is kana-dominant)
    ("ja", r"[ぁ-ヿ]", 2.0),
]

# Latin letters weakly indicate the Latin-script languages (ties broken by
# the stronger features above); keeps plain ASCII junk from scoring zero
# everywhere and lets the confidence threshold kick in.
_LATIN_BONUS = {
    "en": 0.05, "fr": 0.02, "de": 0.02, "es": 0.02, "pt": 0.02, "it": 0.02,
}

UNKNOWN = "und"
MIN_SCORE = 0.5  # absolute score floor; below it the label is 'und'

# Language ID needs only a prefix (fastText-style models routinely cap input);
# keeps 8KB junk blobs from dominating batch cost. Part of the model spec —
# the oracle runs this same function, so parity is structural.
PREFIX_CHARS = 400

# ---------------------------------------------------------------------------
# numpy byte-domain backend
# ---------------------------------------------------------------------------

# word characters for \b: ASCII [a-zA-Z0-9_] plus every byte >= 0x80
# (continuation/lead bytes of non-ASCII letters — accented chars are word
# characters under Unicode \b, and they are the overwhelmingly common
# non-ASCII neighbors of our dictionary words).
_WORDCHAR = np.zeros(256, dtype=bool)
for _b in range(128):
    _WORDCHAR[_b] = chr(_b).isalnum() or _b == ord("_")
_WORDCHAR[128:] = True

# ASCII + Latin-1-supplement lowercase (É→é handled in the C3 pair pass).
_ASCII_LOWER = np.arange(256, dtype=np.uint8)
_ASCII_LOWER[ord("A"):ord("Z") + 1] += 32

# word-list features, compiled to UTF-8 byte strings
_WORD_SETS: list[tuple[str, list[bytes], float]] = [
    ("en", [w.encode() for w in
            ("the", "and", "of", "is", "to", "with", "for")], 3.0),
    ("fr", [w.encode() for w in
            ("le", "la", "les", "et", "de", "des", "avec", "chaque")], 3.0),
    ("de", [w.encode("utf-8") for w in
            ("der", "die", "das", "und", "mit", "jeden", "über")], 3.0),
    ("es", [w.encode() for w in
            ("el", "los", "las", "una", "por", "con", "como", "pero")], 3.0),
    ("pt", [w.encode("utf-8") for w in
            ("não", "uma", "dos", "das", "mas", "são", "também", "em")], 3.0),
    ("it", [w.encode("utf-8") for w in
            ("il", "della", "nella", "che", "per", "sono", "non", "gli")], 3.0),
]
# bare-substring ngram features (no boundaries)
_SUBSTR_SETS: list[tuple[str, list[bytes], float]] = [
    ("en", [b"th", b"ing", b"ion"], 1.0),
    ("de", [b"sch", b"ung"], 1.0),
]
# accented single-char classes as (lead byte, continuation-byte values)
_FR_ACCENT_C3 = bytes("éèêàâçùûîôœ", "utf-8")  # œ is C5 93
_FR_CONT = [b for a, b in zip(_FR_ACCENT_C3[::2], _FR_ACCENT_C3[1::2]) if a == 0xC3]
_DE_CONT = [bytes(c, "utf-8")[1] for c in "äöüß"]  # all C3-lead


def _pattern_positions(buf: np.ndarray, pat: bytes) -> np.ndarray:
    """Candidate start indices where ``pat`` occurs in ``buf`` (overlap-free
    for our patterns by construction — no pattern can overlap itself)."""
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


def _word_positions(buf: np.ndarray, wc: np.ndarray, word: bytes) -> np.ndarray:
    """Start indices of \\b word \\b matches."""
    idx = _pattern_positions(buf, word)
    if not idx.size:
        return idx
    left_ok = np.ones(len(idx), dtype=bool)
    inner = idx > 0
    left_ok[inner] = ~wc[buf[idx[inner] - 1]]
    end = idx + len(word)
    right_ok = np.ones(len(idx), dtype=bool)
    inner = end < len(buf)
    right_ok[inner] = ~wc[buf[end[inner]]]
    return idx[left_ok & right_ok]


# Typographic punctuation → ASCII, all 1-char→1-char so \b boundary
# semantics match the regex spec byte-for-byte: the byte backend treats
# every >=0x80 byte as a word char, but NBSP / curly quotes / ellipsis /
# guillemets / dashes are NON-word under Unicode \b. Normalizing them to
# their (equally non-word) ASCII forms before encoding removes the
# divergence the restricted-alphabet parity test used to hide.
_TYPOGRAPHIC = str.maketrans({
    " ": " ",  # NBSP (C2 A0)
    " ": " ",  # thin space
    " ": " ",  # narrow NBSP (French punctuation spacing)
    "‘": "'", "’": "'",   # curly apostrophes
    "“": '"', "”": '"',   # curly quotes
    "«": '"', "»": '"',   # guillemets
    "…": " ",  # ellipsis
    "–": "-", "—": "-",   # en/em dash
})


def _encode_lower(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, int]:
    """Join a batch into one NUL-separated lowercased UTF-8 buffer.

    Returns (buf, starts, n). ASCII lowering via table; Latin-1-supplement
    uppercase (C3 80–9E except ×) lowered by +0x20 on the continuation
    byte — together covering every cased character our features read.
    """
    s = texts.fillna("").astype(str).str.slice(0, PREFIX_CHARS)
    s = s.str.translate(_TYPOGRAPHIC)
    s = s.str.replace("\x00", "", regex=False)
    n = len(s)
    joined = "\x00".join(s.tolist())
    buf = np.frombuffer(
        joined.encode("utf-8", "surrogatepass"), dtype=np.uint8
    )
    buf = _ASCII_LOWER[buf]  # copy (frombuffer is read-only)
    if len(buf) >= 2:
        sec = buf[1:]
        m = (
            (buf[:-1] == 0xC3)
            & (sec >= 0x80) & (sec <= 0x9E) & (sec != 0x97)
        )
        sec[m] += 0x20
    sep = np.flatnonzero(buf == 0)
    starts = np.concatenate([[0], sep + 1])
    return buf, starts, n


def langid_frame(texts: pd.Series) -> pd.DataFrame:
    """Per-language scores + argmax label for a batch of strings.

    Returns a DataFrame with one ``score_<lang>`` column per language
    plus ``lang`` (argmax label, ``und`` when max score < MIN_SCORE).
    """
    buf, starts, n = _encode_lower(texts)
    lang_ix = {l: i for i, l in enumerate(LANGS)}
    scores = np.zeros((n, len(LANGS)), dtype=np.float64)

    def add_hits(lang: str, idx: np.ndarray, w: float) -> None:
        # match positions → owning string via the start offsets (sparse:
        # O(hits·log n), no per-byte accumulator)
        if idx.size:
            seg = np.searchsorted(starts, idx, side="right") - 1
            scores[:, lang_ix[lang]] += np.bincount(seg, minlength=n) * w

    # Spanish inverted punctuation ¿ (C2 BF) ¡ (C2 A1): count FIRST, then
    # neutralize the byte pair to ASCII "??" BEFORE the word-boundary
    # pass. Under Unicode \b (regex backend) and RE2 \b (DuckDB oracles)
    # these are NON-word characters, so "¿por qué" still boundary-matches
    # \bpor\b — but the byte backend's word table marks every >=0x80 byte
    # as word, which would silently eat the boundary and flip labels on
    # ordinary Spanish text.
    if len(buf) >= 2:
        m_inv = (buf[:-1] == 0xC2) & ((buf[1:] == 0xBF) | (buf[1:] == 0xA1))
        pos_inv = np.flatnonzero(m_inv)
        add_hits("es", pos_inv, 2.0)
        if pos_inv.size:
            buf[pos_inv] = ord("?")
            buf[pos_inv + 1] = ord("?")

    for lang, words, w in _WORD_SETS:
        for word in words:
            add_hits(lang, _word_positions(buf, _WORDCHAR, word), w)
    for lang, pats, w in _SUBSTR_SETS:
        for pat in pats:
            add_hits(lang, _pattern_positions(buf, pat), w)

    if len(buf) >= 2:
        sec = buf[1:]
        lead = buf[:-1]
        # French accents: C3+cont in set, plus œ = C5 93
        m = (lead == 0xC3) & np.isin(sec, _FR_CONT)
        m |= (lead == 0xC5) & (sec == 0x93)
        add_hits("fr", np.flatnonzero(m), 2.0)
        # German umlauts/ß: C3+cont in set
        m = (lead == 0xC3) & np.isin(sec, _DE_CONT)
        add_hits("de", np.flatnonzero(m), 2.0)
        # Cyrillic U+0400–U+04FF: lead byte D0–D3
        m = (lead >= 0xD0) & (lead <= 0xD3) & (sec >= 0x80)
        add_hits("ru", np.flatnonzero(m), 2.0)
        # CJK U+4E00–U+9FFF: 3-byte lead E4 (cont1 ≥ B8) or E5–E9
        m = ((lead == 0xE4) & (sec >= 0xB8)) | ((lead >= 0xE5) & (lead <= 0xE9))
        add_hits("zh", np.flatnonzero(m), 2.0)
        # Spanish: ñ (C3 B1) — ¿/¡ were counted (and neutralized) above
        m = (lead == 0xC3) & (sec == 0xB1)
        add_hits("es", np.flatnonzero(m), 2.0)
        # Portuguese nasal vowels: ã (C3 A3), õ (C3 B5)
        m = (lead == 0xC3) & ((sec == 0xA3) | (sec == 0xB5))
        add_hits("pt", np.flatnonzero(m), 2.0)
        # Italian grave accents outside the fr class: ì (C3 AC), ò (C3 B2)
        m = (lead == 0xC3) & ((sec == 0xAC) | (sec == 0xB2))
        add_hits("it", np.flatnonzero(m), 2.0)

    if len(buf) >= 3:
        # Japanese kana U+3041–U+30FF: E3 81 81–BF | E3 82 * | E3 83 *
        # (the 3rd-byte check on the 81 page excludes unassigned U+3040,
        # keeping the mask exactly equal to the regex class [ぁ-ヿ])
        l3, s3, t3 = buf[:-2], buf[1:-1], buf[2:]
        m3 = (l3 == 0xE3) & (
            ((s3 == 0x81) & (t3 >= 0x81)) | (s3 == 0x82) | (s3 == 0x83)
        )
        add_hits("ja", np.flatnonzero(m3), 2.0)

    # Latin [a-z] bonus — dense, so segment-sum an int mask instead of
    # walking sparse indices (reduceat segments exact: starts strictly
    # increasing, every string owns ≥1 slot incl. its separator)
    latin = ((buf >= ord("a")) & (buf <= ord("z"))).astype(np.int64)
    if n:
        latin = np.append(latin, 0)  # keep every start index in range
        latin_counts = np.add.reduceat(latin, starts).astype(np.float64)
        for lang, w in _LATIN_BONUS.items():
            scores[:, lang_ix[lang]] += latin_counts * w

    best = scores.argmax(axis=1)
    best_score = scores.max(axis=1)
    labels = np.array(LANGS, dtype=object)[best]
    labels[best_score < MIN_SCORE] = UNKNOWN
    out = pd.DataFrame(
        scores, index=texts.index, columns=[f"score_{l}" for l in LANGS]
    )
    out["lang"] = labels
    return out


def langid_frame_regex(texts: pd.Series) -> pd.DataFrame:
    """Reference backend: the same model via pandas ``str.count`` regexes.
    Kept as the readable spec and the parity-test oracle."""
    s = texts.fillna("").astype(str).str.slice(0, PREFIX_CHARS).str.lower()
    scores = pd.DataFrame(0.0, index=s.index, columns=LANGS)
    for lang, pat, w in _FEATURES:
        scores[lang] += s.str.count(pat) * w
    latin = s.str.count(r"[a-z]")
    for lang, w in _LATIN_BONUS.items():
        scores[lang] += latin * w

    arr = scores.to_numpy()
    best = arr.argmax(axis=1)
    best_score = arr.max(axis=1)
    labels = np.array(LANGS, dtype=object)[best]
    labels[best_score < MIN_SCORE] = UNKNOWN
    out = scores.add_prefix("score_")
    out["lang"] = labels
    return out


def langid_label(texts: pd.Series) -> pd.Series:
    """Just the label column (the pandas-UDF hot path)."""
    return langid_frame(texts)["lang"].astype(str)
