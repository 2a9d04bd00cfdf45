"""Tool API dispatcher + HTTP server round-trips."""

import json
import urllib.request

import pytest

from datacheck_spark import api as tool_api


SAMPLES = [
    {"id": "1", "instruction": "What is Spark exactly?", "response": "A distributed engine.", "score": 3},
    {"id": "2", "instruction": "", "response": "Missing instruction.", "score": 1},
]


def test_check_data_quality_tool(spark):
    out = tool_api.call_tool(
        spark,
        "check_data_quality",
        {"samples": SAMPLES, "schema": {"scoring_rubric": [{"score": s} for s in (1, 2, 3)]}},
    )
    assert out["total_samples"] == 2
    assert out["failed_samples"] == 1
    assert "rule_results" in out


def test_infer_and_coverage_tools(spark):
    out = tool_api.call_tool(spark, "infer_schema", {"samples": SAMPLES})
    assert out["sample_count"] == 2
    cov = tool_api.call_tool(spark, "check_coverage", {"samples": SAMPLES})
    assert cov["total_samples"] == 2


def test_fix_tool(spark):
    out = tool_api.call_tool(
        spark,
        "fix_data",
        {"samples": [{"id": "1", "text": "  pad  "}], "strip_pii": True},
    )
    assert out["result"]["trimmed_count"] == 1
    assert out["fixed_samples"][0]["text"] == "pad"


def test_dedup_conversations_tool(spark):
    """Two conversations with identical ordered turn content form one
    group; the summary counts all groups even past max_return_rows."""
    turns = lambda cid, texts: [  # noqa: E731
        {"conv_id": cid, "turn_idx": i, "role": r, "text": t}
        for i, (r, t) in enumerate(texts)
    ]
    convo = [("user", "hello"), ("assistant", "hi")]
    out = tool_api.call_tool(
        spark,
        "dedup_conversations",
        {
            "samples": turns("a", convo)
            + turns("b", convo)
            + turns("c", [("user", "hello"), ("assistant", "other")])
        },
    )
    assert out["summary"] == {
        "conversations": 3,
        "duplicate_groups": 1,
        "duplicate_conversations": 2,
        "removable_conversations": 1,
    }
    (g,) = out["duplicate_groups"]
    assert g["conv_ids"] == "a,b" and g["n_turns"] == 2


def test_unknown_tool_raises(spark):
    with pytest.raises(ValueError):
        tool_api.call_tool(spark, "nope", {})


def test_unknown_ruleset_raises(spark):
    """A ``ruleset`` outside ``RULESET_NAMES`` raises, naming the valid
    ones, instead of silently running the builtins."""
    for tool in ("check_data_quality", "generate_report"):
        with pytest.raises(ValueError, match="sfT.*default, llm, sft"):
            tool_api.call_tool(
                spark, tool, {"samples": SAMPLES, "ruleset": "sfT"}
            )
    out = tool_api.call_tool(
        spark, "check_data_quality", {"samples": SAMPLES, "ruleset": "sft"}
    )
    assert "instruction_quality" in out["rule_results"]


def test_path_tools_read_every_row_of_an_appended_table(
    spark, appended_table
):
    """Every ``path``/``data_path`` tool opens a ``base/`` +
    ``append_000/`` table through ``sources.load_data``: every row."""
    from pyspark.sql import functions as F

    path, df = appended_table
    n_rows = df.count()
    n_convs = df.select("conv_id").distinct().count()

    def call(name, **args):
        return tool_api.call_tool(spark, name, args)

    assert call("infer_schema", data_path=path)["sample_count"] == n_rows
    assert call("check_coverage", data_path=path)["total_samples"] == n_rows
    skew = call("diagnose_skew", path=path, key_fields=["conv_id"])
    assert skew["key_skew"]["total_rows"] == n_rows
    structure = call("check_conversation_structure", path=path)
    assert structure["summary"]["conversations"] == n_convs
    dedup = call("dedup_conversations", path=path)
    assert dedup["summary"]["conversations"] == n_convs
    (bucket,) = [
        r for r in call("suggest_rules", path=path)["rules"]
        if r["field"] == "conv_bucket" and r["check"] == "number_range"
    ]
    lo, hi = df.agg(F.min("conv_bucket"), F.max("conv_bucket")).first()
    assert (bucket["min"], bucket["max"]) == (lo, hi)


def test_http_server_round_trip(spark):
    from datacheck_spark.server import serve

    httpd = serve(spark, port=0)  # ephemeral port
    port = httpd.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/tools") as r:
            tools = json.loads(r.read())["tools"]
        by_name = {t["name"]: t for t in tools}
        assert "check_data_quality" in by_name
        # typed descriptors, same as MCP tools/list
        assert by_name["validate_from_datarecipe"]["inputSchema"][
            "required"
        ] == ["analysis_dir"]

        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/check",
            data=json.dumps({"samples": SAMPLES}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            out = json.loads(r.read())
        assert out["total_samples"] == 2
        assert out["failed_samples"] == 1

        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/tools/bogus", data=b"{}",
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(bad)
        assert e.value.code == 400
    finally:
        httpd.shutdown()
