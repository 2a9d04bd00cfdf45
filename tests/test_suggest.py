"""Rule suggestion (suggest.py): profile → config → compiler round-trip.

The core guarantee: every suggested rule PASSES on the data it was
profiled from, even with nulls/blanks present (null-intolerant checks
are withheld for incomplete columns).
"""

import pyspark.sql.functions as F
import pytest

from datacheck_spark.rules.compiler import ruleset_from_config
from datacheck_spark.suggest import (
    profile_columns,
    suggest_rules,
    suggestions_table,
)


def _rules_by_key(cfg):
    return {(r["field"], r["check"]): r for r in cfg["rules"]}


@pytest.fixture(scope="module")
def mixed_df(spark):
    rows = [
        # id, name (complete string), tag (string w/ null + blank),
        # score (numeric w/ null), cat (low-card string)
        (1, "alpha", "x1", 1.5, "a"),
        (2, "beta", None, 2.5, "b"),
        (3, "gamma-long", "  ", None, "a"),
        (4, "d", "x234", 9.0, "b"),
    ]
    return spark.createDataFrame(
        rows, "id int, name string, tag string, score double, cat string"
    )


def test_profile_columns(mixed_df):
    prof = profile_columns(mixed_df)
    assert prof["total"] == 4
    name = prof["columns"]["name"]
    assert name["non_null"] == 4 and name["blank"] == 0
    assert (name["len_min"], name["len_max"]) == (1, 10)
    tag = prof["columns"]["tag"]
    assert tag["non_null"] == 3 and tag["blank"] == 1
    score = prof["columns"]["score"]
    assert (score["min"], score["max"]) == (1.5, 9.0)
    assert prof["columns"]["cat"]["enum_values"] == ["a", "b"]


def test_suggest_withholds_null_intolerant_checks(mixed_df):
    by_key = _rules_by_key(suggest_rules(mixed_df))
    # complete, blank-free string: the full set
    assert ("name", "required") in by_key
    assert ("name", "non_empty") in by_key
    assert by_key[("name", "min_length")]["value"] == 1
    assert by_key[("name", "max_length")]["value"] == 10
    # tag has a null (75% complete) and a blank row: no required (below
    # the 95% bar), no non_empty/min_length/enum (compiler fails nulls),
    # but max_length is null-safe and stays
    assert ("tag", "required") not in by_key
    assert ("tag", "non_empty") not in by_key
    assert ("tag", "min_length") not in by_key
    assert ("tag", "enum") not in by_key
    assert by_key[("tag", "max_length")]["value"] == 4
    # numeric with a null: number_range passes nulls -> suggested
    r = by_key[("score", "number_range")]
    assert (r["min"], r["max"]) == (1.5, 9.0)
    assert ("score", "required") not in by_key
    # low-cardinality complete string -> enum of sorted observed values
    assert by_key[("cat", "enum")]["values"] == ["a", "b"]


def test_suggested_rules_all_pass_on_profiled_data(mixed_df):
    """The guarantee that makes suggestions safe to adopt as-is."""
    cfg = suggest_rules(mixed_df)
    compiled = ruleset_from_config(
        cfg, name="suggested", load_builtins=False
    ).compile(mixed_df)
    assert compiled, "expected suggested rules to compile"
    agg = mixed_df.agg(
        *[
            F.sum((~r.passed).cast("long")).alias(r.rule_id)
            for r in compiled
        ]
    ).collect()[0]
    failures = {k: v for k, v in agg.asDict().items() if v}
    assert not failures, f"suggested rules failed on their own data: {failures}"


def test_enum_confirmed_exactly_in_sketch_mode(spark):
    """HLL candidacy is confirmed by an exact collect_set: a column the
    sketch might mis-estimate never yields an over-wide enum, and the
    value list is exact."""
    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("k")
    )
    cfg = suggest_rules(df)
    assert _rules_by_key(cfg)[("k", "enum")]["values"] == ["0", "1", "2"]


def test_high_cardinality_string_gets_no_enum(spark):
    df = spark.range(500).select(F.col("id").cast("string").alias("s"))
    assert ("s", "enum") not in _rules_by_key(suggest_rules(df))


def test_empty_df_suggests_nothing(spark):
    df = spark.createDataFrame([], "a string, b double")
    assert suggest_rules(df)["rules"] == []


def test_suggest_cli_roundtrip(spark, tmp_path, capsys):
    """`suggest` writes a YAML config that `check --rules-file` accepts
    and that passes on the data it was suggested from (clean data →
    exit 0)."""
    import json

    from datacheck_spark.cli import main

    data = tmp_path / "rows.jsonl"
    with open(data, "w", encoding="utf-8") as f:
        for i in range(30):
            f.write(
                json.dumps(
                    {
                        "instruction": f"please summarise document {i}",
                        "response": f"summary of document {i} with detail",
                        "category": ["qa", "summarise"][i % 2],
                        "score": float(i % 5),
                    }
                )
                + "\n"
            )
    cfg_path = tmp_path / "suggested.yaml"
    rc = main(["suggest", str(data), "-o", str(cfg_path)])
    assert rc == 0
    capsys.readouterr()

    import yaml

    cfg = yaml.safe_load(cfg_path.read_text(encoding="utf-8"))
    keys = {(r["field"], r["check"]) for r in cfg["rules"]}
    assert ("category", "enum") in keys
    assert ("score", "number_range") in keys
    assert ("instruction", "non_empty") in keys

    rc = main(["check", str(data), "--rules-file", str(cfg_path)])
    capsys.readouterr()
    assert rc == 0


def test_json_payload_column_suggested(spark):
    """A fully-populated all-JSON string column gets json_valid; one
    with a null (the compiled check fails nulls) or a non-JSON value
    does not."""
    df = spark.createDataFrame(
        [('{"a": 1}', '{"b": 2}', "plain"), ('{"a": 2}', None, "text")],
        "j string, jn string, t string",
    )
    by_key = _rules_by_key(suggest_rules(df))
    assert ("j", "json_valid") in by_key
    assert ("jn", "json_valid") not in by_key
    assert ("t", "json_valid") not in by_key


def test_json_path_suggested_for_universal_keys(spark):
    """json_path is suggested only for keys carried with a NON-NULL
    value by every row; JSON-null values, partially-present keys, and
    path-unsafe key names are withheld — and the suggested rule passes
    on the profiled data (the compiled check fails null extractions)."""
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [
            ('{"k": 1, "part": 1, "nul": 1, "we ird": 1}',),
            ('{"k": {"nested": true}, "nul": null, "we ird": 2}',),
        ],
        "j string",
    )
    cfg = suggest_rules(df)
    paths = {
        r["path"] for r in cfg["rules"] if r["check"] == "json_path"
    }
    assert paths == {"$.k"}  # part missing once; nul null once; "we ird" unsafe
    # guarantee: the emitted rule passes on both rows
    from datacheck_spark.rules.compiler import _config_check_column

    ok = _config_check_column(df, "j", "json_path", {"path": "$.k"})
    assert df.where(~ok).count() == 0


# hypothesis: the guarantee holds for ARBITRARY small corpora, not just
# the fixture — strings drawn to hit blank/empty/unicode edges, numerics
# with nulls, any null pattern. One Spark job per example.
from hypothesis import given, settings, strategies as st  # noqa: E402

_STR = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "　", "a", "xy", "word salad", "é中"]),
)
_NUM = st.one_of(st.none(), st.sampled_from([-1.5, 0.0, 2.0, 9.25]))
_ROWS = st.lists(st.tuples(_STR, _NUM, _STR), min_size=1, max_size=12)


@settings(max_examples=8, deadline=None)
@given(_ROWS)
def test_guarantee_holds_on_arbitrary_data(spark, rows):
    df = spark.createDataFrame(rows, "s string, x double, t string")
    cfg = suggest_rules(df)
    compiled = ruleset_from_config(
        cfg, name="suggested", load_builtins=False
    ).compile(df)
    if not compiled:
        return
    agg = df.agg(
        *[F.sum((~r.passed).cast("long")).alias(r.rule_id) for r in compiled]
    ).collect()[0]
    failures = {k: v for k, v in agg.asDict().items() if v}
    assert not failures, (failures, rows)


def test_suggestions_table_shape(spark, mixed_df):
    cfg = suggest_rules(mixed_df)
    tbl = suggestions_table(spark, cfg)
    assert tbl.columns == ["field", "check", "p1", "p2", "vals"]
    rows = {(r["field"], r["check"]): r for r in tbl.collect()}
    assert rows[("score", "number_range")]["p1"] == 1.5
    assert rows[("score", "number_range")]["p2"] == 9.0
    assert rows[("cat", "enum")]["vals"] == "a,b"
    assert len(rows) == len(cfg["rules"])


def test_profiler_oracles(spark):
    """``schema_inference_docs`` and ``suggest_rules_events`` (HLL
    candidacy, exact enum confirmation) equal their DuckDB oracles,
    order-insensitively, on the sf0.01 contract tables."""
    from pathlib import Path

    from test_ann_recall import SF_DIR

    duckdb = pytest.importorskip("duckdb")
    if not Path(SF_DIR).is_dir():
        pytest.skip(f"{SF_DIR} absent")
    from datacheck_spark import contract as C

    def rows(records):
        return sorted(
            (
                tuple(round(x, 6) if isinstance(x, float) else x for x in r)
                for r in records
            ),
            key=lambda t: tuple((x is None, str(x)) for x in t),
        )

    con = duckdb.connect()
    for t in ("documents", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    for name in ("schema_inference_docs", "suggest_rules_events"):
        got = C.queries()[name](spark, SF_DIR)
        rel = con.sql(C.oracle_sql()[name])
        assert got.columns == rel.columns, name
        want = rows(rel.fetchall())
        assert want, name
        assert rows(got.collect()) == want, name
