"""Dump physical plans for the engine's key operators into PLANS.md and
assert plan-quality invariants (pushdown, pruning, codegen, join
strategies).

Run: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import SparkSession, functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    checks = []

    def add(title, df, invariants):
        p = plan_of(df)
        sections.append((title, p))
        for desc, pred in invariants:
            ok = pred(p)
            checks.append((title, desc, ok))

    # 1. fused rule pass over a parquet scan: column pruning + codegen
    from datacheck_spark.engine import ValidationEngine
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    engine = ValidationEngine()
    annotated = engine.annotate(docs.select("doc_id", "text"))
    add(
        "fused rule pass (documents)",
        annotated,
        [
            # formatted mode labels codegen stages as "[codegen id : N]";
            # the rule Project itself uses higher-order array functions
            # (not codegen-able) but the surrounding stages are compiled
            ("codegen stages present", lambda p: "codegen id" in p),
            ("no shuffle (narrow pass)", lambda p: "Exchange" not in p),
            (
                "column pruning to doc_id,text",
                lambda p: "ReadSchema" in p and "lang" not in p.split("ReadSchema")[1].split("\n")[0],
            ),
        ],
    )

    # 2. filter pushdown reaches the scan
    filtered = docs.where(F.col("doc_id") < 100).select("doc_id")
    add(
        "filter pushdown (doc_id < 100)",
        filtered,
        [
            ("PushedFilters has LessThan", lambda p: "LessThan(doc_id,100)" in p.replace(" ", "")),
        ],
    )

    # 3. referential anti-join broadcasts the dim
    from datacheck_spark.referential import orphan_rows
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    add(
        "referential anti-join (lineitem->orders)",
        orphan_rows(li, "l_orderkey", orders, "o_orderkey", broadcast_dim=True),
        [
            (
                "broadcast hash anti-join",
                lambda p: "BroadcastHashJoin" in p and "LeftAnti" in p,
            ),
        ],
    )

    # 4. uniqueness groupBy: partial aggregation before the exchange
    from datacheck_spark.dedup import duplicate_key_rows
    add(
        "uniqueness groupBy (l_orderkey,l_linenumber)",
        duplicate_key_rows(li, ["l_orderkey", "l_linenumber"]),
        [
            ("partial aggregate map-side", lambda p: "HashAggregate" in p),
            ("single exchange", lambda p: p.count("Exchange") <= 2),
        ],
    )

    # 4b. duplicate_groups: ids-per-group bounded by a row_number window
    # BEFORE the collect_list agg (no unbounded collect_list buffer —
    # a hash duplicated 10^8 times spills in the window sort instead of
    # OOMing the aggregation buffer)
    from datacheck_spark.dedup import duplicate_groups_df
    add(
        "duplicate_groups (bounded collect_list)",
        duplicate_groups_df(orders, ["o_custkey", "o_orderstatus"], "o_orderkey"),
        [
            (
                "row_number bound precedes collect_list",
                lambda p: "row_number" in p and "collect_list" in p,
            ),
            (
                "pre-filter to dup hashes (join on counts>1)",
                lambda p: "Join" in p,
            ),
        ],
    )

    # 4c. batch check: the engine's verdict rollup by source_file over
    # the fused rule pass is one partial+final aggregation with one
    # exchange (files are ordered on the driver, not by a range sort)
    # and no Python node
    import re as _re
    import tempfile

    from datacheck_spark import sources as SRC

    no_python = (
        "no Python evaluation node",
        lambda p: not any(
            s in p
            for s in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF")
        ),
    )
    with tempfile.TemporaryDirectory() as batch_dir:
        (Path(batch_dir) / "sub").mkdir()
        for name in ("a.jsonl", "sub/a.jsonl"):
            (Path(batch_dir) / name).write_text(
                '{"id": "1", "text": "fine content"}\n{"id": "2", "text": ""}\n',
                encoding="utf-8",
            )
        _, batch_tally = SRC._file_rollup(SRC.load_glob(spark, batch_dir))
    add(
        "batch check (verdict rollup by source_file)",
        batch_tally,
        [
            (
                "one partial and one final aggregation, on source_file",
                lambda p: len(_re.findall(r"\(\d+\) HashAggregate", p)) == 2
                and len(_re.findall(r"Keys \[1\]: \[source_file#\d+\]", p))
                == 2,
            ),
            (
                "one exchange, hash-partitioned on source_file",
                lambda p: len(_re.findall(r"\(\d+\) Exchange", p)) == 1
                and "hashpartitioning(source_file" in p,
            ),
            no_python,
        ],
    )

    # 5. distribution agg: the profile aggregation compute_distribution
    # runs, one scan, partial+final
    from datacheck_spark import stats as S

    agg_df = S.profile_frame(li, S.distribution_aggs(li))
    add(
        "single-pass distribution agg (lineitem)",
        agg_df,
        [
            ("partial+final combine", lambda p: "partial_" in p),
            # formatted output prints each scan twice (tree + detail)
            ("one scan", lambda p: p.count("Scan parquet") <= 2),
        ],
    )

    # 6. violation rows: the unpivot of the annotated transcript frame
    # stays narrow until the final sort. The plan holds no lambda
    # (CodegenFallback), so the unpivot's Generate runs in a whole-stage
    # codegen stage. Run first: an adaptive plan shows its codegen
    # stages once it is final.
    import re as _re

    from datacheck_spark.transcripts import TranscriptChecker

    tr_path = ROOT / ".contract_cache" / "transcripts_200x10" / "data.parquet"
    tr = spark.read.parquet(str(tr_path))
    viols = TranscriptChecker().violations(tr)
    viols.collect()
    add(
        "violations unpivot over annotate + stable ordering",
        viols,
        [
            ("generate/explode present", lambda p: "Generate" in p),
            ("sort for stable ordering", lambda p: "Sort" in p),
            (
                "unpivot Generate in a whole-stage codegen stage",
                lambda p: bool(
                    _re.search(r"\(\d+\) Generate \[codegen id : \d+\]", p)
                ),
            ),
            (
                "no lambda (array_compact, filter) in the plan",
                lambda p: not any(
                    s in p for s in ("array_compact", "filter(", "lambdafunction")
                ),
            ),
        ],
    )

    # 6b. the violation store's group write: per-file counts observed
    # in the write's single stage (a CollectMetrics node over one scan,
    # no exchange, so each partition's metrics merge once)
    from datacheck_spark.incremental import (
        IncrementalValidator,
        list_data_files,
    )

    # only the plan is built: nothing is written under the store path;
    # the full rule suite, repetitive_text included
    store = IncrementalValidator(str(tr_path.parent / "store"))
    group, _ = store._group_frame(
        spark, sorted(list_data_files(spark, str(tr_path))), 0
    )
    add(
        "violation store group write (observed per-file counts)",
        group,
        [
            ("CollectMetrics node", lambda p: "CollectMetrics" in p),
            (
                "one parquet scan",
                lambda p: len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1,
            ),
            ("no exchange", lambda p: "Exchange" not in p),
        ],
    )

    # 6c. the store's live view in an append-only history: every
    # committed batch holds all its files, so the view is one read of
    # the batch dirs with the manifest's schema, with no semi-join
    # against a driver-built live-file frame
    import shutil

    def _one_read(p: str) -> bool:
        return (
            len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1
            and "Join" not in p
            and "LocalRelation" not in p
            and "LocalTableScan" not in p
        )

    store_dir = tempfile.mkdtemp(prefix="live_view_")
    try:
        live_store = IncrementalValidator(store_dir)
        live_store.run(spark, str(tr_path))
        add(
            "violation store live view (append-only)",
            live_store.live_violations(spark),
            [("one parquet scan, no join, no local relation", _one_read)],
        )
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)

    # 7. k-means IVF: cell-keyed broadcast join, no cartesian product
    from datacheck_spark.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = ivf_topk(
        emb.where(F.col("vec_id") >= 5),
        emb.where(F.col("vec_id") < 5),
        k=5,
        n_cells=8,
        nprobe=2,
    )
    add(
        "k-means IVF top-k (embeddings)",
        ivf,
        [
            (
                "cell-keyed broadcast join (no cartesian)",
                lambda p: "BroadcastHashJoin" in p
                and "CartesianProduct" not in p,
            ),
            (
                "Arrow-vectorized cell assignment",
                lambda p: "ArrowEvalPython" in p,
            ),
        ],
    )

    # 8. transcript fused pass: all 8 rules in ONE Project, every node in
    # one whole-stage codegen stage, no Python evaluation node
    # (repetitive_text is a JVM expression), and the blank test via the
    # translate char map (no strip regex)
    t_annotated = TranscriptChecker().annotated(tr)
    rule_ids = [r.rule_id for r in TranscriptChecker().engine.compile(tr)]

    def _one_rule_projection(p: str) -> bool:
        # an Output list may span lines: the blank test's char map holds
        # line breaks
        outputs = _re.findall(
            r"\(\d+\) Project [^\n]*\nOutput (.*?)\nInput ", p, _re.S
        )
        holders = [o for o in outputs if " AS __rule_" in o]
        return len(rule_ids) == 8 and len(holders) == 1 and all(
            f" AS __rule_{rid}#" in holders[0] for rid in rule_ids
        )

    add(
        "transcript fused pass (8 rules, one projection)",
        t_annotated,
        [
            ("no shuffle (narrow pass)", lambda p: "Exchange" not in p),
            ("all 8 rules in one Project", _one_rule_projection),
            (
                "no Python evaluation node",
                lambda p: "ArrowEvalPython" not in p
                and "BatchEvalPython" not in p,
            ),
            (
                "one whole-stage codegen stage",
                lambda p: set(_re.findall(r"\[codegen id : (\d+)\]", p))
                == {"1"},
            ),
            (
                "blank test via translate char map (no strip regex)",
                lambda p: "translate" in p.lower()
                and "regexp_replace(text" not in p,
            ),
        ],
    )

    # 8b. conversation-structure verdicts, violation rows and rollup
    # (one rule list): ONE text-free hash exchange on conv_id shared by
    # the lag window and the per-conversation agg (text reduces to the
    # __empty boolean before the shuffle; ties order by ts, so no
    # payload tie-break is needed)
    import re as _re

    from datacheck_spark.transcripts import (
        conversation_structure,
        structure_summary,
        structure_violations,
    )

    # formatted mode puts the partitioning on an Arguments: line, not
    # inline after "Exchange" — count the conv_id hash on its own
    text_free_sort = (
        "window sort is text-free (turn_idx, role, ts)",
        lambda p: bool(_re.search(
            r"\], \[conv_id#\d+\], "
            r"\[turn_idx#\d+ ASC NULLS FIRST, "
            r"role#\d+ ASC NULLS FIRST, "
            r"ts#\d+ ASC NULLS FIRST\]", p))
        and not _re.search(r"text#\d+ ASC", p),
    )
    add(
        "conversation structure (window + agg, text-free exchange)",
        conversation_structure(tr),
        [
            (
                "agg reuses the window's conv_id partitioning",
                lambda p: len(_re.findall(r"\(\d+\) Exchange", p)) == 1
                and p.count("hashpartitioning(conv_id") == 1,
            ),
            text_free_sort,
        ],
    )
    add(
        "structure violation rows (window + unpivot, text-free exchange)",
        structure_violations(tr),
        [
            (
                "one exchange, on conv_id",
                lambda p: len(_re.findall(r"\(\d+\) Exchange", p)) == 1
                and p.count("hashpartitioning(conv_id") == 1,
            ),
            text_free_sort,
            (
                "no lambda (filter) in the unpivot",
                lambda p: "filter(" not in p and "lambdafunction" not in p,
            ),
        ],
    )
    add(
        "structure rollup (verdicts + one-row agg)",
        structure_summary(tr),
        [
            (
                "one conv_id exchange, then the single-partition final agg",
                lambda p: p.count("hashpartitioning(conv_id") == 1
                and len(_re.findall(r"\(\d+\) Exchange", p)) == 2,
            ),
            text_free_sort,
        ],
    )

    # 8c. conversation-level exact dedup: the row_number bound runs
    # BEFORE the collect_list (no unbounded agg buffer), and the count
    # window / rn window / final agg share the conv_fp partitioning
    from datacheck_spark.transcripts import conversation_duplicates
    add(
        "conversation dedup (bounded ids, shared fp exchange)",
        conversation_duplicates(tr),
        [
            (
                "row_number bound precedes collect_list",
                lambda p: "row_number" in p.lower()
                and "collect_list" in p.lower(),
            ),
            (
                "one conv_fp exchange shared by windows + agg",
                lambda p: p.count("Exchange hashpartitioning(conv_fp") <= 2,
            ),
        ],
    )

    # 9. salted two-phase aggregation (skew handling): two agg pairs
    from datacheck_spark.sessions import conversation_stats
    salted = conversation_stats(tr, salt_buckets=8)
    add(
        "salted conversation rollup (two-phase agg)",
        salted,
        [
            (
                "two aggregation phases (partial+final x2)",
                lambda p: p.count("HashAggregate") >= 3
                or p.count("ObjectHashAggregate") >= 2,
            ),
            # formatted output prints each node twice (tree + detail):
            # <=4 occurrences == <=2 real exchanges (salt then key)
            ("two exchanges (salt phase, key phase)", lambda p: p.count("Exchange") <= 4),
        ],
    )

    # 10. per-rule failed-ids: bounded per-partition take-k, never an
    # unbounded collect_list over a rule's whole failure set. The
    # window limit Spark plans for row_number() <= k runs partially on
    # every input partition, below the rule_id exchange; the plan holds
    # no Python evaluation node
    def _partial_limit_before_exchange(p: str) -> bool:
        # formatted plans print root-first: the final WindowGroupLimit
        # sits above the rule_id exchange, the partial one below it, and
        # the final collect_list aggregate above both
        tree = p.split("\n\n")[0].split("== Initial Plan ==")[0]
        ops = _re.findall(r"(\w+) \((\d+)\)", tree)
        names = [o for o, _ in ops]
        details = dict(
            _re.findall(r"\n\((\d+)\) Exchange\s*\n(?:.*\n)*?Arguments: ([^\n]*)", p)
        )
        ex = [
            i for i, (o, n) in enumerate(ops)
            if o == "Exchange" and "hashpartitioning(rule_id" in details.get(n, "")
        ]
        if len(ex) != 1:
            return False
        above, below = names[: ex[0]], names[ex[0] + 1 :]
        return (
            "WindowGroupLimit" in above
            and "WindowGroupLimit" in below
            and any(a in above for a in ("ObjectHashAggregate", "SortAggregate"))
            and "collect_list" in p
        )

    rules = engine.compile(docs.select("doc_id", "text"))
    add(
        "per-rule failed ids (bounded take-k)",
        engine.per_rule_failed_ids_df(
            engine.annotate(docs.select("doc_id", "text"), rules=rules),
            rules,
            "doc_id",
            k=10,
        ),
        [
            (
                "partial WindowGroupLimit before the exchange",
                _partial_limit_before_exchange,
            ),
            no_python,
        ],
    )

    # 11. MinHash-LSH near-dup pairs: the signature and band/bucket
    # exchanges must be slim (no gram arrays — payload would multiply by
    # band count), the signatures are JVM aggregates (no Python
    # evaluation node), and the exact-Jaccard verify must be
    # explicitly spread (AQE would coalesce the byte-tiny candidate
    # table onto one task even though each row is CPU-heavy)
    from datacheck_spark.dedup import near_duplicate_pairs_lsh

    def _shuffles_gram_free(p: str) -> bool:
        # every shuffle exchange (band/bucket at scale, candidate dedup,
        # verify repartition) must move ids only — gram arrays may sit
        # in scan-side projections or a broadcast, never a shuffle
        blocks = _re.findall(
            r"Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: hashpartitioning\(",
            p,
        )
        return bool(blocks) and not any(
            "__g" in b or "ga#" in b or "gb#" in b for b in blocks
        )

    add(
        "minhash-LSH near-dup pairs (banding + exact verify)",
        near_duplicate_pairs_lsh(
            docs.select("doc_id", "text"), ["text"], "doc_id",
            threshold=0.5,
        ),
        [
            (
                "no shuffle exchange carries gram arrays",
                _shuffles_gram_free,
            ),
            no_python,
            (
                "exact verify spread via explicit repartition",
                lambda p: "REPARTITION_BY_NUM" in p,
            ),
        ],
    )

    # 12. rule-suggestion profile: every per-column stat, HLL distinct
    # counts included, rides ONE full-scan aggregation (partial+final),
    # not one job per column.
    from datacheck_spark.suggest import _profile_aggs

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    add(
        "rule-suggestion profile agg (events, HLL distinct counts)",
        S.profile_frame(events, _profile_aggs(events)),
        [
            ("partial+final combine", lambda p: "partial_" in p),
            ("one scan", lambda p: p.count("Scan parquet") <= 2),
            ("no shuffle beyond final agg", lambda p: p.count("Exchange") <= 2),
        ],
    )

    md = ["# PLANS — physical-plan evidence for key operators",
          "",
          "Generated by `tools/explain_plans.py` (sf0.01). Invariants",
          "checked automatically; full `.explain(\"formatted\")` output",
          "below each section.", ""]
    md.append("## Invariant checks\n")
    md.append("| operator | invariant | ok |")
    md.append("|---|---|---|")
    failed = 0
    for title, desc, ok in checks:
        md.append(f"| {title} | {desc} | {'✅' if ok else '❌'} |")
        if not ok:
            failed += 1
    md.append("")
    for title, p in sections:
        md.append(f"## {title}\n\n```\n{p.strip()}\n```\n")

    out = ROOT / "PLANS.md"
    out.write_text("\n".join(md), encoding="utf-8")
    print(f"wrote {out}; {len(checks) - failed}/{len(checks)} invariants ok")
    if failed:
        for title, desc, ok in checks:
            if not ok:
                print(f"FAILED: {title}: {desc}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
