"""Text rule goldens — mirrors `/root/reference/tests/test_text_rules.py`
cases, evaluated through Spark Columns over small DataFrames."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from datacheck_spark.rules import text as T


def flags(spark, texts, expr_fn):
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
    rows = df.select("i", expr_fn(F.col("t")).alias("flag")).orderBy("i").collect()
    return [r["flag"] for r in rows]


class TestPII:
    def test_detects_each_kind(self, spark):
        texts = [
            "contact me at alice@example.com please",   # email
            "call 13812345678 now",                      # CN mobile
            "intl +86-13900000000 works",                # intl
            "id number 11010119900101123X here",         # CN id
            "a perfectly clean sentence",                # clean
            None,                                        # null -> clean
        ]
        got = flags(spark, texts, T.pii_clean)
        assert got == [False, False, False, False, True, True]

    def test_redaction_tokens(self, spark):
        texts = ["mail a@b.com id 110101199001011234 tel 13812345678 +86-1390000"]
        df = spark.createDataFrame([Row(t=texts[0])])
        out = df.select(T.redact_pii(F.col("t")).alias("r")).collect()[0]["r"]
        assert "[EMAIL]" in out and "[ID]" in out and "[PHONE]" in out
        assert "a@b.com" not in out and "110101199001011234" not in out

    def test_redaction_id_before_phone(self, spark):
        # the 18-digit ID must become [ID], not partially [PHONE]
        df = spark.createDataFrame([Row(t="x 110101199001011234 y")])
        out = df.select(T.redact_pii(F.col("t")).alias("r")).collect()[0]["r"]
        assert out == "x [ID] y"


class TestGarbled:
    def test_control_chars(self, spark):
        texts = [
            "abc\x00\x01\x02def",          # >1% control chars
            "normal text here",            # clean
            "ab\x00",                      # len < 5 -> skipped
            "café olé naïve",  # accented but no 3-run
            "ÀÁÂ mojibake",  # 3-run of C0-FF
        ]
        got = flags(spark, texts, T.garbled_clean)
        assert got == [False, True, True, True, False]


class TestRepetitive:
    CASES = [
        ("This is repeated. " * 50, True),          # sentence mode
        ("All work and no play. " * 2, False),      # too short a pattern set
        ("x" * 5000, True),                          # window mode
        ("short text", False),                       # < 50 chars skip
        ("A normal paragraph with several different sentences. "
         "Each one says something new. Nothing repeats here at all. "
         "Variety is the spice of life.", False),
    ]

    def test_goldens(self, spark):
        got = flags(
            spark, [c[0] for c in self.CASES], lambda c: ~T.repetitive_clean(c)
        )
        assert got == [c[1] for c in self.CASES]

    def test_matches_python_port(self, spark):
        """The rule column must agree with the exact Python port on
        every case."""
        texts = [c[0] for c in self.CASES] + [
            "ab. " * 30,                     # segments <= 5 chars -> filtered
            ("Hello world this is fine. " * 3) + "Unique tail sentence here.",
            "0123456789" * 11,               # exact window repeats
            None,
        ]
        df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
        rows = df.select(
            "i",
            (~T.repetitive_clean(F.col("t"))).alias("rep"),
        ).orderBy("i").collect()
        for r, t in zip(rows, texts):
            expected = T._repetitive_one(t)
            assert r["rep"] == expected, f"text={t!r:.60}"


class TestLanguage:
    def test_detected_language(self, spark):
        texts = [
            "这是一段比较长的中文文本内容",
            "This is clearly an English sentence",
            "これはにほんごのぶんしょうです",
            "안녕하세요 한국어 문장입니다",
            "Это русское предложение для теста",
            "",
        ]
        df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
        rows = df.select(
            "i", T.detected_language(F.col("t")).alias("d")
        ).orderBy("i").collect()
        langs = [r["d"]["lang"] for r in rows]
        assert langs == ["zh", "latin", "ja", "ko", "ru", "unknown"]

    def test_consistency(self, spark):
        df = spark.createDataFrame(
            [
                Row(id="ok", a="This is English text okay", b="Another English sentence here"),
                Row(id="mixed", a="This is English text okay", b="这是一段比较长的中文文本内容"),
                Row(id="single", a="Only one confident field here", b="short"),
            ]
        )
        rows = df.select(
            "id",
            T.language_consistent([F.col("a"), F.col("b")]).alias("ok"),
        ).collect()
        by_id = {r["id"]: r["ok"] for r in rows}
        assert by_id == {"ok": True, "mixed": False, "single": True}


class TestNgrams:
    def test_char_ngrams_golden(self, spark):
        from datacheck_spark.dedup import char_ngrams

        df = spark.createDataFrame([Row(t="hello"), Row(t="ab"), Row(t="")])
        rows = df.select(char_ngrams(F.col("t")).alias("g")).collect()
        assert sorted(rows[0]["g"]) == ["ell", "hel", "llo"]
        assert rows[1]["g"] == ["ab"]
        assert rows[2]["g"] == []

    def test_jaccard_golden(self, spark):
        from datacheck_spark.dedup import char_ngrams, jaccard

        df = spark.createDataFrame([Row(a="abcd", b="abcd"), Row(a="abcd", b="wxyz")])
        rows = df.select(
            jaccard(char_ngrams(F.col("a")), char_ngrams(F.col("b"))).alias("j")
        ).collect()
        assert rows[0]["j"] == pytest.approx(1.0)
        assert rows[1]["j"] == pytest.approx(0.0)


# test_property_parity.py's fragments plus the whitespace, emoji and CJK
# separator characters the column port treats specially
_REPETITION_FRAGMENTS = st.sampled_from(
    [
        "hello world", "a@b.co", "13812345678", "+1-23456",
        "110101199001011234", "\x00\x01", "\ufffd", "ÀÁÂÃ",
        "。句子内容比较长一些。", "This is repeated. ", "xxxxxxxxxx",
        "short", " ", "\n", "!?.", "これはにほんご", "한국어입니다",
        "Это текст", "ألف باء", "0123456789", "a", ".",
        "\u3000", "\xa0", "\x1c", "\U0001f600", "。", "！", "？",
    ]
)
_PIECES = st.lists(_REPETITION_FRAGMENTS, min_size=0, max_size=30).map("".join)
# a unit repeated up to 12 times around free text reaches both modes'
# thresholds from either side
_REPEATED = st.builds(
    lambda head, unit, times, tail: head + unit * times + tail,
    _PIECES,
    st.lists(_REPETITION_FRAGMENTS, min_size=1, max_size=4).map("".join),
    st.integers(min_value=1, max_value=12),
    _PIECES,
)
_REPETITION_CORPUS = st.lists(
    st.one_of(_PIECES, _REPEATED), min_size=1, max_size=40
)


def _repetitive_flags(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string").coalesce(1)
    return [
        (r["t"], r["rep"])
        for r in df.select(
            "t", (~T.repetitive_clean(F.col("t"))).alias("rep")
        ).collect()
    ]


@settings(max_examples=25, deadline=None)
@given(_REPETITION_CORPUS)
def test_repetitive_matches_oracle_property(spark, corpus):
    """The Column expression equals the plain-Python oracle on generated
    corpora (the reference-parity modules skip without the reference
    package; this one does not)."""
    for t, got in _repetitive_flags(spark, corpus):
        assert got == T._repetitive_one(t), repr(t)[:120]


def _windows(*chunks: str, tail: str = "") -> str:
    """Aligned 10-character windows, then ``tail``: at most one
    sentence separator, so only window mode can fire."""
    assert all(len(c) == 10 for c in chunks)
    return "".join(chunks) + tail


def _other(i: int) -> str:
    return f"other{i:05d}"


def _sentences(*segments: str) -> str:
    """Under 101 characters here, so only sentence mode can fire."""
    return ". ".join(segments) + "."


def _distinct(n: int) -> list:
    return [f"seg_{i:02d}" for i in range(n)]


# (text, repetitive) at each threshold of the reference predicate
REPETITION_BOUNDARIES = [
    # 3 equal segments: 3/9 > 0.3 fires, 3/10 does not
    (_sentences(*["same_1"] * 3, *_distinct(6)), True),
    (_sentences(*["same_1"] * 3, *_distinct(7)), False),
    # top count 3 against 4 among n = 10
    (_sentences(*["same_1"] * 4, *_distinct(6)), True),
    # fewer than 3 equal segments never fires, whatever the share
    (_sentences(*["the same sentence here"] * 2, "a different one"), False),
    (_sentences(*["the same sentence here"] * 3), True),
    # stripped segment length 5 is dropped, 6 is counted
    ("  abcde  ." * 6, False),
    ("  abcdef  ." * 6, True),
    ("\u3000abcdef\xa0。" * 6, True),
    ("\u3000abcde\xa0！" * 7, False),
    # the repeated window sorts before the others, then after them
    *(
        case
        for x in ("a" * 10, "z" * 10)
        for case in [
            # even m = 10: 5 equal windows is not a majority, 6 is
            (_windows(*[x] * 5, *map(_other, range(5)), tail="."), False),
            (_windows(*[x] * 6, *map(_other, range(4)), tail="."), True),
            # odd m = 11: 5 equal windows is not a majority, 6 is
            (_windows(*[x] * 5, *map(_other, range(6)), tail="."), False),
            (_windows(*[x] * 6, *map(_other, range(5)), tail="."), True),
            # length 110: the 11th chunk is not a window, so it cannot
            # tip the count; one more character makes it one
            (_windows(*[x] * 5, *map(_other, range(5)), x), False),
            (_windows(*[x] * 5, *map(_other, range(5)), x, tail="."), True),
        ]
    ),
    # one separator gives at most 2 segments
    ("abcdef. abcdef tail " + "q" * 30, False),
    ("abcdef. abcdef。abcdef. tail " + "q" * 30, True),
    # below length 50 nothing fires
    ("x" + ". same_1" * 6, False),
    ("xx" + ". same_1" * 6, True),
    # length 100 has no window mode; 101 does
    ("y" * 100, False),
    ("y" * 101, True),
    ("y" * 49, False),
    (None, False),
]


def test_repetitive_boundaries(spark):
    got = dict(_repetitive_flags(spark, [t for t, _ in REPETITION_BOUNDARIES]))
    for t, expected in REPETITION_BOUNDARIES:
        assert T._repetitive_one(t) is expected, repr(t)
        assert got[t] is expected, repr(t)
