"""Text-quality rule expressions: PII, garbled, repetition, language.

Semantics mirror the reference's ``text_rules.py``
(``/root/reference/src/datacheck/text_rules.py``):

- PII patterns ``text_rules.py:99-104`` — all four are Java-regex
  compatible as written, so they run JVM-side via ``rlike``.
- Garbled detection ``text_rules.py:121-136`` — control/replacement chars
  > 1 % of length, or a 3+-run of U+00C0–U+00FF; strings < 5 chars skip.
- Repetitive text ``text_rules.py:142-172`` — sentence- and window-level
  ``Counter`` logic is irreducible per-row Python ⇒ Arrow-vectorized
  pandas UDF (the only Python in the hot path, and only when this rule
  is enabled).
- Language detection ``text_rules.py:32-94`` — per-script ``regexp_count``
  tallies, dominant-language argmax with first-in-order tie-break, 2-dp
  rounded confidence, fields > 10 chars only.

Everything here returns *pass* columns: True ⇒ the row passes the rule.
"""

from __future__ import annotations

from functools import reduce
from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

# --- PII (text_rules.py:99-104) ------------------------------------------

PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone_cn": r"1[3-9]\d{9}",
    "phone_intl": r"\+\d{1,3}[-.\s]?\d{4,14}",
    "id_cn": r"\d{17}[\dXx]",
}

#: Single alternation used when only found/not-found matters.
PII_ANY = "|".join(f"(?:{p})" for p in PII_PATTERNS.values())


def pii_clean(col: Column) -> Column:
    """True iff the string column contains no PII. Null ⇒ clean
    (reference skips non-str values, ``text_rules.py:111-112``).

    Performance: a single 4-way alternation forces the Java regex
    engine to try every branch at every position (~40s/M rows on the
    bench corpus). Splitting the branches and gating the
    backtracking-prone email/intl patterns behind cheap ``contains``
    prechecks (a literal scan; CaseWhen short-circuits per row) cuts
    that by ~10×. Semantics identical — '@'/'+' are mandatory in those
    patterns anyway.
    """
    email_hit = F.when(
        col.contains("@"), col.rlike(PII_PATTERNS["email"])
    ).otherwise(F.lit(False))
    intl_hit = F.when(
        col.contains("+"), col.rlike(PII_PATTERNS["phone_intl"])
    ).otherwise(F.lit(False))
    # digit precheck: phone_cn needs 11 and id_cn 18 consecutive
    # digit-class chars, so any true match contains a 10-digit run —
    # \d{10} is a cheap early-exit scan (2.3x the translate-count gate,
    # which allocated a stripped copy of every string)
    digit_hit = F.when(
        col.rlike(r"\d{10}"),
        col.rlike(PII_PATTERNS["phone_cn"]) | col.rlike(PII_PATTERNS["id_cn"]),
    ).otherwise(F.lit(False))
    return col.isNull() | ~(email_hit | intl_hit | digit_hit)


# --- Garbled text (text_rules.py:121-136) --------------------------------

# U+FFFD/FFFE/FFFF written as one range: fewer class branches for the
# regex engine to test per char (measured ~25% faster scan, same set)
GARBLED_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\ufffd-\\uffff]"
ENCODING_ERROR = "[\\u00c0-\\u00ff]{3,}"


def garbled_clean(col: Column) -> Column:
    """True iff not garbled. Strings < 5 chars skip (pass).

    The control-char tally uses ``regexp_count`` of the single-char
    class — measured faster than the ``translate`` char map, which
    allocates a stripped copy of every string (memory-bandwidth-bound
    on long texts) just to diff the lengths.
    """
    n = F.length(col)
    garbled_count = F.regexp_count(col, F.lit(GARBLED_CLASS))
    bad = ((garbled_count > 0) & (garbled_count / n > 0.01)) | col.rlike(
        ENCODING_ERROR
    )
    return col.isNull() | (n < 5) | ~bad


# --- Repetitive text (text_rules.py:142-172) -----------------------------


def _repetitive_one(value) -> bool:
    """Exact per-string port of the reference predicate semantics
    (``text_rules.py:142-172``): True ⇒ repetitive."""
    import re
    from collections import Counter

    if not isinstance(value, str) or len(value) < 50:
        return False
    segments = re.split(r"[。！？\n.!?]+", value)
    segments = [s.strip() for s in segments if len(s.strip()) > 5]
    if len(segments) >= 3:
        most = Counter(segments).most_common(1)[0][1]
        if most >= 3 and most / len(segments) > 0.3:
            return True
    if len(value) > 100:
        w = 10
        windows = [value[i : i + w] for i in range(0, len(value) - w, w)]
        if windows:
            top = Counter(windows).most_common(1)[0][1]
            if top / len(windows) > 0.5 and top > 3:
                return True
    return False


@pandas_udf(BooleanType())
def repetitive_flag(texts: pd.Series) -> pd.Series:
    """Arrow-batched repetition detector; True ⇒ repetitive.

    Vectorized pre-gate (C-speed pandas str ops): the predicate can
    only fire for strings of length ≥ 50 that have ≥ 2 sentence
    separators (sentence mode needs ≥ 3 segments) or length > 100
    (window mode), so the per-row Python port runs on the ~1 % of rows
    that pass the gate instead of the whole batch."""
    import numpy as np

    s = texts.fillna("")
    n = s.str.len()
    gate = (n >= 50) & ((s.str.count(r"[。！？\n.!?]") >= 2) | (n > 100))
    vals = np.zeros(len(s), dtype=bool)
    idx = np.flatnonzero(gate.to_numpy())
    if idx.size:
        arr = s.to_numpy()
        vals[idx] = [_repetitive_one(arr[i]) for i in idx]
    return pd.Series(vals, index=texts.index)


# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.strip()
# strips the full Unicode whitespace set (str.isspace() == True).
PY_WHITESPACE_CLASS = (
    "[\\s\\u001c-\\u001f\\u0085\\u00a0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]"
)


def py_strip(col: Column) -> Column:
    """Python ``str.strip()`` equivalent (full Unicode whitespace set —
    Spark ``trim`` strips only ``' '``, Java ``\\s`` is ASCII-only); used
    by the YAML compiler, fixer trim, and dedup n-grams for
    ``str.strip()`` parity."""
    return F.regexp_replace(
        col, f"^{PY_WHITESPACE_CLASS}+|{PY_WHITESPACE_CLASS}+$", ""
    )


#: every character Python's str.strip() removes, enumerated for
#: translate() (a char map — no regex engine in the hot path)
PY_WHITESPACE_CHARS = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def py_blank(col: Column) -> Column:
    """True iff ``value.strip() == ""`` for a non-null string — i.e. the
    string contains ONLY Python-whitespace. Implemented with
    ``translate`` (char map) instead of the strip regex so the fused
    rule pass stays regex-free; exactly equivalent because
    ``len(s.strip()) == 0`` ⟺ s has no non-whitespace character.

    Head-gated for the hot path: almost every real string has a
    non-whitespace character within its first few chars, so an 8-char
    prefix check settles those rows without touching the rest of the
    string (measured 2.1s → 0.6s over 16.7M transcript turns at
    local[32] — the full-string char map was memory-bandwidth-bound).
    Only prefix-blank rows pay the full-string scan; CaseWhen evaluates
    the branch lazily per row inside codegen."""
    head_has_ink = (
        F.length(F.translate(F.substring(col, 1, 8), PY_WHITESPACE_CHARS, ""))
        > 0
    )
    return F.when(head_has_ink, F.lit(False)).otherwise(
        F.length(F.translate(col, PY_WHITESPACE_CHARS, "")) == 0
    )


def repetitive_clean(col: Column) -> Column:
    """True iff the column is not excessively repetitive.

    Runs the Arrow-batched pandas UDF — the byte-exact reference port —
    because it is MEASURED faster than a Column-expression port of the
    same predicate: ~6x on the 8.36M-turn corpus of round 4 (3.7s vs
    23.5s full-table), and 12.4–14.6 vs 18.2–22.8 CPU seconds per warm
    whole-table verdict on the ``perfbench`` transcripts table. The
    higher-order-function tree (split → per-segment strip regex →
    array_sort → aggregate-with-struct, twice) is CodegenFallback, and
    its interpreted evaluation costs ~370µs per gated row, while
    Python's re.split + Counter costs ~4µs per row vectorized over
    Arrow batches. "UDFs are the slow path" inverts here: the
    per-element interpreted expression machinery is the slower runtime."""
    # JVM-side mask before the Arrow boundary: rows that cannot fire the
    # predicate (len < 50, or no sentence separators and len <= 100 —
    # the same necessary condition the UDF's internal gate re-checks)
    # are sent as NULL, so Arrow ships no string bytes for them (~99 %
    # of the bench corpus; the text payload, not the Python compute, is
    # the transfer cost at scale). NULL ⇒ fillna("") ⇒ len 0 ⇒ False in
    # the UDF — identical semantics, parity-fuzzed.
    ln = F.length(col)
    # "two separator chars anywhere" as an early-exit regex — the
    # translate-count equivalent allocates a stripped copy of every
    # string (measured 4x slower on the bench corpus)
    two_seps = col.rlike("(?s)[。！？\\n.!?].*[。！？\\n.!?]")
    gate = (ln >= 50) & (two_seps | (ln > 100))
    return ~F.coalesce(repetitive_flag(F.when(gate, col)), F.lit(False))


# --- Language detection (text_rules.py:32-94) ----------------------------

#: (lang, java-regex char class) in the reference's dict-insertion order —
#: order matters for the argmax tie-break (Python ``max`` returns the
#: first maximal key in insertion order, ``text_rules.py:71``).
LANG_RANGES = [
    ("zh", "[\\u4e00-\\u9fff\\u3400-\\u4dbf]"),
    ("ja", "[\\u3040-\\u309f\\u30a0-\\u30ff]"),
    ("ko", "[\\uac00-\\ud7af\\u1100-\\u11ff]"),
    ("ar", "[\\u0600-\\u06ff\\u0750-\\u077f]"),
    ("ru", "[\\u0400-\\u04ff]"),
    ("th", "[\\u0e00-\\u0e7f]"),
    ("latin", "[a-zA-Z]"),
]


def detected_language(col: Column) -> Column:
    """Struct column ``(lang string, confidence double)``.

    Mirrors ``detect_language`` (``text_rules.py:42-74``): per-range
    match counts; dominant = max count, first-in-order wins ties;
    confidence rounded to 2 dp (HALF_EVEN, matching Python ``round``);
    ``("unknown", 0.0)`` when no counts or ``len(strip()) < 3``.

    Fast path: every non-latin range starts ≥ U+0400, so pure-ASCII
    text can only be latin (confidence exactly 1.0) or unknown — one
    anchored class scan instead of seven ``regexp_count`` array builds.
    """
    is_ascii = ~col.rlike("[^\\x00-\\x7f]")
    has_letter = col.rlike("[a-zA-Z]")
    eligible = col.isNotNull() & (F.length(F.trim(col)) >= 3)
    ascii_result = F.struct(
        F.when(eligible & has_letter, F.lit("latin"))
        .otherwise(F.lit("unknown"))
        .alias("lang"),
        F.when(eligible & has_letter, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("confidence"),
    )
    return F.when(col.isNull() | is_ascii, ascii_result).otherwise(
        _detected_language_full(col)
    )


def _detected_language_full(col: Column) -> Column:
    """Full 7-range tally (non-ASCII inputs)."""
    counts = [F.regexp_count(col, F.lit(p)) for _, p in LANG_RANGES]
    total = reduce(lambda a, b: a + b, counts)
    # argmax with first-in-order tie-break: max struct(count, -index)
    candidates = F.array(
        *[
            F.struct(
                counts[i].alias("n"),
                F.lit(-i).alias("neg_idx"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, _) in enumerate(LANG_RANGES)
        ]
    )
    best = F.array_max(F.filter(candidates, lambda s: s["n"] > 0))
    known = (
        col.isNotNull()
        & (F.length(F.trim(col)) >= 3)
        & (total > 0)
    )
    lang = F.when(known, best["lang"]).otherwise(F.lit("unknown"))
    # bround = HALF_EVEN, matching Python's round() (the reference
    # rounds confidence with round(x, 2), text_rules.py:74)
    conf = F.when(known, F.bround(best["n"] / total, 2)).otherwise(F.lit(0.0))
    return F.struct(lang.alias("lang"), conf.alias("confidence"))


def language_consistent(cols: Sequence[Column]) -> Column:
    """True iff < 2 confident language detections, or all agree.

    Mirrors ``check_language_consistency`` (``text_rules.py:77-94``):
    only string fields > 10 chars participate; confident means
    ``lang != 'unknown' and confidence > 0.3`` (confidence pre-rounded
    to 2 dp as the reference rounds before comparing).
    """
    langs = []
    for c in cols:
        det = detected_language(c)
        eligible = c.isNotNull() & (F.length(c) > 10)
        confident = eligible & (det["lang"] != "unknown") & (
            det["confidence"] > 0.3
        )
        langs.append(F.when(confident, det["lang"]))
    arr = F.array_compact(F.array(*langs))
    return (F.size(arr) < 2) | (F.size(F.array_distinct(arr)) == 1)


# --- PII redaction (fixer.py:25-31) --------------------------------------

#: Redaction patterns in the reference's mandatory order: EMAIL, then the
#: full birthdate-validating CN ID (must precede phone to avoid partial
#: matches), then CN mobile, then intl phone (``fixer.py:25-31``).
REDACTION_PATTERNS = [
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    (
        r"\d{6}(18|19|20)\d{2}(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])\d{3}[\dXx]",
        "[ID]",
    ),
    (r"1[3-9]\d{9}", "[PHONE]"),
    (r"\+\d{1,3}[-.\s]?\d{4,14}", "[PHONE]"),
]


def redact_pii(col: Column) -> Column:
    """Chained ``regexp_replace`` in reference order; null-safe."""
    out = col
    for pattern, token in REDACTION_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out
