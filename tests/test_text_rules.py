"""Text rule goldens — mirrors `/root/reference/tests/test_text_rules.py`
cases, evaluated through Spark Columns over small DataFrames."""

import pytest
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
        """The rule column (JVM-side gate + Arrow UDF) must agree with
        the exact Python port on every case."""
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


def test_repetitive_udf_gate_parity(spark):
    """Both pre-gates — the JVM-side ``rlike`` mask in repetitive_clean
    and the vectorized one inside repetitive_flag — must be NECESSARY
    conditions: rule output == per-row reference port on boundary cases
    (len 49/50/100/101, exactly 1 vs 2 separators, CJK separators)."""
    from pyspark.sql import functions as F

    seg = "abcdef"  # len 6 > 5
    cases = [
        None, "", "x" * 49, "x" * 50, "x" * 100, "x" * 101,
        ("y" * 10 + ". ") * 10,             # many separators, repeated
        (seg + ". ") * 3 + "z" * 30,        # 3 identical segments
        (seg + "。") * 6,                    # CJK separator
        seg + ". " + seg + " tail " + "q" * 40,  # 1 separator only
        "This is repeated. " * 50,
        "ab. " * 30,                        # segments too short (<=5)
    ]
    df = spark.createDataFrame([(t,) for t in cases], "t string").coalesce(1)
    rows = df.select(
        "t",
        (~T.repetitive_clean(F.col("t"))).alias("rep"),
    ).collect()
    for r in rows:
        assert r["rep"] == T._repetitive_one(r["t"]), repr(r["t"])[:60]
