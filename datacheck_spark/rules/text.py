"""Text-quality rule expressions: PII, garbled, repetition, language.

Semantics mirror the reference's ``text_rules.py``
(``/root/reference/src/datacheck/text_rules.py``):

- PII patterns ``text_rules.py:99-104`` — all four are Java-regex
  compatible as written, so they run JVM-side via ``rlike``.
- Garbled detection ``text_rules.py:121-136`` — control/replacement chars
  > 1 % of length, or a 3+-run of U+00C0–U+00FF; strings < 5 chars skip.
- Repetitive text ``text_rules.py:142-172`` — the sentence- and
  window-level ``Counter`` tests as one exact Column expression: sorted
  segment and window arrays, a backreference run test and a majority
  test; ``_repetitive_one`` is the plain-Python oracle the tests hold it
  to. No rule here runs Python.
- Language detection ``text_rules.py:32-94`` — per-script ``regexp_count``
  tallies, dominant-language argmax with first-in-order tie-break, 2-dp
  rounded confidence, fields > 10 chars only.

Everything here returns *pass* columns: True ⇒ the row passes the rule.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

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


# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.strip()
# strips the full Unicode whitespace set (str.isspace() == True).
PY_WHITESPACE_MEMBERS = (
    "\\s\\u001c-\\u001f\\u0085\\u00a0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000"
)
PY_WHITESPACE_CLASS = f"[{PY_WHITESPACE_MEMBERS}]"


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


#: one segment of the reference's ``re.split(r"[。！？\n.!?]+")``,
#: Python-stripped, longer than 5 characters, in a text whose CJK
#: separators have become ``\n``: it starts and ends on a non-whitespace
#: character and runs over no separator, so the greedy middle backs off
#: only over trailing whitespace. A segment whose strip is 5 characters
#: or shorter has no substring that matches.
SENTENCE_SEGMENT = (
    f"[^\\n.!?{PY_WHITESPACE_MEMBERS}][^\\n.!?]{{4,}}"
    f"[^\\n.!?{PY_WHITESPACE_MEMBERS}]"
)
#: the reference's windows ``value[i:i+10]`` for ``i`` in
#: ``range(0, len - 10, 10)``: aligned 10-character chunks that are
#: followed by at least one more character
WINDOW = "(?s).{10}(?=.)"


def repetitive_clean(col: Column) -> Column:
    """True iff the column is not excessively repetitive: the exact
    :func:`_repetitive_one` as one codegen-able JVM expression (array
    and regex functions, no lambda: a higher-order function would drop
    the whole rule projection out of whole-stage codegen).

    - Sentence mode: of ``n`` stripped segments longer than 5
      characters, the top count fires when it is at least 3 and over
      30 % of ``n``, i.e. at least ``k = max(3, floor(3n / 10) + 1)``.
      Sorted and joined by ``"\\n"`` (which no segment holds), the
      segments then hold a run of ``k`` equal lines, found by a
      backreference.
    - Window mode: of ``m >= 10`` aligned windows (length > 100), the top
      count fires when it is over half of ``m`` (and so over 3). Sorted,
      such a majority covers the middle position ``floor(m / 2)``, so
      only the window there is a candidate, and it fires iff the window
      ``floor(m / 2)`` places after its first occurrence equals it.

    The length and separator gates null each mode's input on rows that
    cannot fire it, so the array work runs on gated rows only. Each
    array sits outside any CaseWhen branch, so Spark's common
    subexpression elimination builds it once per row."""
    ln = F.length(col)
    # re.split treats every separator alike, so the CJK ones become
    # "\n": a byte search that copies nothing where none occurs. Every
    # class the regex engine then tests character by character is a
    # Latin-1 bitmap; a class with other members goes through a chain of
    # predicates, about 10x slower per character.
    ascii_seps = reduce(
        lambda c, sep: F.replace(c, F.lit(sep), F.lit("\n")), "。！？", col
    )
    sentences = F.when(
        (ln >= 50) & ascii_seps.rlike("(?s)[\\n.!?].*[\\n.!?]"), ascii_seps
    )
    segments = F.regexp_extract_all(sentences, F.lit(SENTENCE_SEGMENT), 0)
    k_minus_1 = F.greatest(F.lit(2), F.floor(F.size(segments) * 3 / 10))
    run_of_k = F.concat(
        F.lit("(?:^|\n)([^\n]*+)(?:\n\\1){"),
        k_minus_1.cast("string"),
        F.lit("}(?![^\n])"),
    )
    sentence_hit = F.rlike(
        F.array_join(F.sort_array(segments), "\n"), run_of_k
    )
    windows = F.sort_array(
        F.regexp_extract_all(F.when(ln > 100, col), F.lit(WINDOW), 0)
    )
    half = F.floor(F.size(windows) / 2).cast("int")
    middle = F.get(windows, half)
    window_hit = (
        F.get(windows, F.array_position(windows, middle) + half - 1) == middle
    )
    return ~F.coalesce(sentence_hit | window_hit, F.lit(False))


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
