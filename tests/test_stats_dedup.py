"""Distribution stats, schema inference, coverage, dedup variants."""

import random

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import IntegerType, StringType

from datacheck_spark import stats as S
from datacheck_spark import dedup as D


@pytest.fixture(scope="module")
def mixed_df(spark):
    rows = [
        Row(id=str(i), name=f"name_{i % 3}", score=float(i % 5),
            flag=(i % 2 == 0), note=None if i % 4 == 0 else f"note {i}")
        for i in range(20)
    ]
    return spark.createDataFrame(rows)


def test_compute_distribution(mixed_df):
    dist = S.compute_distribution(mixed_df)
    assert dist["total"] == 20
    name = dist["fields"]["name"]
    assert name["type"] == "string"
    assert name["unique_count"] == 3
    assert name["length_stats"]["min"] == 6
    score = dist["fields"]["score"]
    assert score["type"] == "number"
    assert score["value_stats"]["min"] == 0.0
    assert score["value_stats"]["max"] == 4.0
    assert sum(score["value_distribution"].values()) == 20
    note = dist["fields"]["note"]
    assert note["null_count"] == 5


def test_topk_deterministic(mixed_df):
    tops = S._top_values(mixed_df, ["score"], k=3)
    # 0..4 appear 4 times each; tie-break by ascending value
    assert list(tops["score"].keys()) == [0.0, 1.0, 2.0]


def test_infer_schema(mixed_df):
    schema = S.infer_schema(mixed_df)
    assert schema["sample_count"] == 20
    f = schema["fields"]
    assert f["name"]["type"] == "string"
    assert f["name"]["required"] is True
    assert f["score"]["type"] == "number"
    assert f["score"]["enum"] == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert f["flag"]["type"] == "boolean"
    assert f["note"]["nullable"] is True
    assert "required" not in f["note"]  # 75% presence < 95%


def test_infer_schema_sketch_mode_enum_confirmation(spark):
    """Enum inference must (a) still find true enums via the 2x HLL
    prefilter and (b) never emit an over-wide enum: a 15-distinct
    column falls inside the 2x candidate bar but must be rejected by
    the exact slice-bounded confirmation."""
    rows = [Row(id=str(i), small=float(i % 5), wide=float(i % 15))
            for i in range(600)]
    schema = S.infer_schema(spark.createDataFrame(rows))
    f = schema["fields"]
    assert f["small"]["enum"] == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert "enum" not in f["wide"]


def test_coverage(mixed_df):
    cov = S.check_coverage(mixed_df)
    assert cov["total_samples"] == 20
    assert cov["fields"]["note"]["presence_rate"] == pytest.approx(0.75)
    assert cov["fields"]["name"]["distinct_values"] == 3


def test_compare_distributions(spark, mixed_df):
    other = spark.createDataFrame(
        [Row(id=str(i), name="x" * 12, score=50.0) for i in range(10)]
    )
    cmp = S.compare_distributions(mixed_df, other)
    assert cmp["sample_count"] == 20
    assert cmp["reference_count"] == 10
    nc = cmp["field_comparisons"]["name"]
    assert nc["in_samples"] and nc["in_reference"]
    assert nc["length_comparison"]["diff_percent"] > 0


def test_duplicate_key_rows(spark):
    df = spark.createDataFrame(
        [Row(a="k1", b=1), Row(a="k1", b=1), Row(a="k2", b=2)]
    )
    dups = D.duplicate_key_rows(df, ["a", "b"]).collect()
    assert len(dups) == 1
    assert dups[0]["a"] == "k1" and dups[0]["dup_count"] == 2


def test_duplicate_groups_bounded_hot_hash(spark):
    """A hash duplicated 1M times must not buffer 1M ids in one
    aggregation buffer: the group comes back truncated to its
    ``max_ids_per_group`` smallest ids while small groups stay whole
    (reference parity), and the job survives the test session's 4g
    driver heap."""
    hot = spark.range(1_000_000).select(
        F.format_string("h%07d", F.col("id")).alias("id"),
        F.lit("boilerplate duplicated everywhere").alias("text"),
    )
    small = spark.createDataFrame(
        [Row(id="a1", text="x"), Row(id="a2", text="x"),
         Row(id="b1", text="only once")]
    )
    groups = D.duplicate_groups(
        hot.unionByName(small), ["text"], "id", max_ids_per_group=50
    )
    assert sorted(["a1", "a2"]) in [sorted(g) for g in groups]
    hot_groups = [g for g in groups if g[0].startswith("h")]
    assert len(hot_groups) == 1
    assert hot_groups[0] == [f"h{i:07d}" for i in range(50)]
    assert ["b1"] not in groups  # singletons excluded


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [Row(k="hot", v=i) for i in range(100)]
        + [Row(k="cold", v=i) for i in range(5)]
    )
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["k"]: r["n"]
        for r in D.salted_agg(
            df,
            ["k"],
            salt_buckets=4,
            partial_aggs=[F.count(F.lit(1)).alias("pn")],
            final_aggs=[F.sum("pn").alias("n")],
        ).collect()
    }
    assert salted == plain


def test_minhash_lsh_finds_near_dups(spark):
    rows = [
        Row(id="1", text="The quick brown fox jumps over the lazy dog again and again"),
        Row(id="2", text="The quick brown fox jumps over the lazy cat again and again"),
        Row(id="3", text="Completely different content about spark aggregation plans"),
        Row(id="4", text="Another unrelated sentence mentioning data quality checks"),
    ]
    df = spark.createDataFrame(rows)
    pairs = D.near_duplicate_pairs_lsh(
        df, ["text"], "id", threshold=0.7
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [("1", "2")]


def _py_ngrams(text, n=3):
    """Plain-Python ``compute_ngrams``: strip + lower, code-point n-grams;
    a non-empty text shorter than n is its own gram."""
    t = text.strip().lower()
    if len(t) < n:
        return {t} if t else set()
    return {t[i : i + n] for i in range(len(t) - n + 1)}


def test_minhash_signature_oracle(spark):
    """``sig[i]`` is the minimum over the doc's grams ``g`` of
    ``xxhash64(xxhash64(g), i)``: the grams match a plain-Python n-gram
    oracle (short texts, astral-plane characters, repeated grams), the
    hashes come from a plain exploded select with no aggregate, and
    Python reduces them, on a frame of four partitions."""
    texts = {
        "short": "ab",
        "one": "Z",
        "astral": "  \U0001F600\U0001F600ab\U0001F600 c\U00010348d ",
        "repeat": "aaaaaaaaaaaaaaaa",
        "cycle": "abcabcabcabcabcabc",
        "mixed": "The quick brown fox jumps over the lazy dog",
        "newline": "line one\nline two\nline one",
        "exactly_n": "xyz",
    }
    df = spark.createDataFrame(
        [Row(id=k, text=v) for k, v in texts.items()]
    ).repartition(4)
    hashed = D._gram_hashes(df, ["text"], "id")
    sigs = {r["__id"]: r["__sig"] for r in D.minhash_signatures(hashed).collect()}
    assert sorted(sigs) == sorted(texts)

    grams = df.select(
        F.col("id"), F.explode(D.char_ngrams(F.col("text"))).alias("g")
    )
    num_hashes = 64
    rows = grams.select(
        "id",
        "g",
        *[F.xxhash64(F.xxhash64("g"), F.lit(i)).alias(f"h{i}") for i in range(num_hashes)],
    ).collect()
    want = {}
    seen = {}
    for r in rows:
        seen.setdefault(r["id"], set()).add(r["g"])
        cur = want.setdefault(r["id"], [None] * num_hashes)
        for i in range(num_hashes):
            h = r[f"h{i}"]
            cur[i] = h if cur[i] is None else min(cur[i], h)
    assert seen == {k: _py_ngrams(v) for k, v in texts.items()}
    assert sigs == want


def test_minhash_lsh_pairs_equal_exact_pairs(spark):
    """LSH pairs at threshold 0.8 equal the exact all-pairs result on a
    small planted corpus: near copies (one word of 60 changed) are all
    found, and looser copies (12 of 60 changed) fall on the side of 0.8
    their exact Jaccard puts them."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for d in range(40):
        words = [rng.choice(vocab) for _ in range(60)]
        rows.append(Row(id=f"d{d:02d}", text=" ".join(words)))
        if d % 2 == 0:  # a near copy with one word changed
            near = list(words)
            near[rng.randrange(len(near))] = "edited"
            rows.append(Row(id=f"d{d:02d}n", text=" ".join(near)))
        if d % 5 == 0:  # a looser copy: 12 of 60 words changed
            loose = list(words)
            for j in rng.sample(range(len(loose)), 12):
                loose[j] = rng.choice(vocab)
            rows.append(Row(id=f"d{d:02d}l", text=" ".join(loose)))
    df = spark.createDataFrame(rows).repartition(3)
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.near_duplicate_pairs_exact(df, ["text"], "id", threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.near_duplicate_pairs_lsh(df, ["text"], "id", threshold=0.8).collect()
    }
    assert len(exact) >= 20
    assert lsh == exact


def test_dedup_and_failed_id_plans_no_python(spark):
    """Both MinHash-LSH paths and the per-rule failed-id take-k plan no
    Python evaluation node, so none of them starts a Python worker."""
    from datacheck_spark.engine import ValidationEngine
    from datacheck_spark.leakage import near_leakage_pairs_lsh

    df = spark.createDataFrame(
        [Row(id=str(i), text=f"sample text number {i % 3} here") for i in range(12)]
        + [Row(id="blank", text="")]
    )
    engine = ValidationEngine()
    rules = engine.compile(df)
    frames = [
        D.near_duplicate_pairs_lsh(df, ["text"], "id", threshold=0.5),
        near_leakage_pairs_lsh(df, df, "text", "id", "id", threshold=0.5),
        engine.per_rule_failed_ids_df(
            engine.annotate(df, rules=rules), rules, "id", k=3
        ),
    ]
    for frame in frames:
        frame.collect()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
            assert node not in plan, (node, plan)


def test_simhash_near_dups(spark):
    rows = [
        Row(id="1", text="The quick brown fox jumps over the lazy dog again and again"),
        Row(id="2", text="The quick brown fox jumps over the lazy cat again and again"),
        Row(id="3", text="Completely different content about spark aggregation plans"),
    ]
    df = spark.createDataFrame(rows)
    pairs = D.simhash_near_duplicates(df, "text", "id", max_hamming=10).collect()
    assert ("1", "2") in [(p["id_a"], p["id_b"]) for p in pairs]


def test_embedding_near_duplicates(spark):
    rows = [
        Row(id="1", v=[1.0, 0.0, 0.0, 0.0]),
        Row(id="2", v=[0.999, 0.01, 0.0, 0.0]),
        Row(id="3", v=[0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    pairs = D.embedding_near_duplicates(
        df, "v", "id", threshold=0.95, lsh_planes=0
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [("1", "2")]


def test_dedup_exact_without_order(spark):
    df = spark.createDataFrame(
        [Row(id="1", t="a"), Row(id="2", t="a"), Row(id="3", t="b")]
    )
    out = D.dedup_exact(df, ["t"])
    assert out.count() == 2


def test_connected_components_and_keep_best(spark):
    """CC via min-label propagation + keep-best representative:
    a 4-node chain (a-b, b-c, c-d) is ONE component; two pairs (x-y)
    another; singleton z untouched. Keep the highest score per
    component, ties to smallest id."""
    from pyspark.sql import Row

    from datacheck_spark.dedup import (
        connected_components,
        near_dedup_keep_best,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"

    df = spark.createDataFrame(
        [Row(k="a", s=1), Row(k="b", s=9), Row(k="c", s=9), Row(k="d", s=2),
         Row(k="x", s=5), Row(k="y", s=5), Row(k="z", s=0)]
    )
    kept = sorted(
        r["k"] for r in near_dedup_keep_best(df, pairs, "k", "s").collect()
    )
    # chain: b and c tie at 9 -> smallest id b; x/y tie -> x; z untouched
    assert kept == ["b", "x", "z"]


def test_connected_components_long_chain(spark, monkeypatch):
    """A 600-node path (diameter ~600) must collapse to one component
    within ``CC_MAX_ROUNDS`` — pointer jumping gives O(log d)
    convergence where plain min-label propagation needed O(d) rounds
    and silently split the chain (ADVICE r2)."""
    from datacheck_spark.dedup import connected_components

    monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", 0)
    n = 600
    pairs = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n - 1)],
        "id_a string, id_b string",
    ).repartition(8)
    comp = connected_components(pairs)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n


def test_connected_components_warns_without_fixed_point(spark, monkeypatch):
    """Pointer jumping that runs out of rounds before its labels settle
    warns rather than returning split components silently."""
    monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 1)
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(99)],
        "id_a string, id_b string",
    )
    with pytest.warns(RuntimeWarning, match="fixed point in 1 rounds"):
        comp = D.connected_components(pairs)
    assert comp.select("component").distinct().count() > 1


def _bfs_components(edges):
    """Plain-Python oracle for ``connected_components``: breadth-first
    search from every unlabelled node, labelling with the component's
    minimum id. An edge with a null endpoint links nothing; the null
    node is labelled null."""
    adj = {}
    has_null = False
    for a, b in edges:
        if a is None or b is None:
            has_null = True
            for x in (a, b):
                if x is not None:
                    adj.setdefault(x, set())
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [y for x in frontier for y in adj[x] if y not in seen]
            seen.update(frontier)
        lo = min(seen)
        label.update((x, lo) for x in seen)
    out = set(label.items())
    if has_null:
        out.add((None, None))
    return out


def _random_graph(seed):
    """Edges of a chain longer than 600 nodes, a star, small random
    components, repeated and reversed pairs and self-loops, over node
    numbers permuted so no component's minimum sits at a chain end."""
    rng = random.Random(seed)
    nodes = list(range(2000))
    rng.shuffle(nodes)
    it = iter(nodes)
    chain = [next(it) for _ in range(650)]
    edges = list(zip(chain, chain[1:]))
    hub = next(it)
    edges += [(hub, next(it)) for _ in range(40)]
    for _ in range(30):
        comp = [next(it) for _ in range(rng.randint(2, 6))]
        edges += [(rng.choice(comp), rng.choice(comp)) for _ in range(len(comp) * 2)]
        edges += list(zip(comp, comp[1:]))
    edges += [(b, a) for a, b in rng.sample(edges, 50)]  # reversed
    edges += rng.sample(edges, 50)  # repeated
    edges += [(x, x) for x in rng.sample(chain, 5) + [next(it) for _ in range(5)]]
    rng.shuffle(edges)
    return edges


def _cc_rows(spark, edges, dtype, monkeypatch, driver):
    monkeypatch.setattr(
        D, "DRIVER_CC_MAX_EDGES", 1_000_000 if driver else 0
    )
    ddl = dtype.simpleString()
    pairs = spark.createDataFrame(edges, f"id_a {ddl}, id_b {ddl}")
    comp = D.connected_components(pairs)
    rows = [(r["id"], r["component"]) for r in comp.collect()]
    return rows, comp.schema["component"].dataType


@pytest.mark.parametrize(
    "dtype", [StringType(), IntegerType()], ids=lambda t: t.simpleString()
)
def test_connected_components_paths_match_bfs(spark, monkeypatch, dtype):
    """The driver union-find and the forced pointer-jumping path give
    identical (id, component) rows, equal to a BFS oracle, with the
    component typed like the ids. String ids are the decimal node
    numbers, so their order differs from the int order."""
    edges = _random_graph(11)
    if dtype == StringType():
        edges = [(str(a), str(b)) for a, b in edges]
    driver, t_driver = _cc_rows(spark, edges, dtype, monkeypatch, True)
    jumped, t_jumped = _cc_rows(spark, edges, dtype, monkeypatch, False)
    assert len(driver) == len(set(driver)) == len(jumped)
    assert set(driver) == set(jumped) == _bfs_components(edges)
    assert t_driver == t_jumped == dtype


def test_connected_components_null_endpoints(spark, monkeypatch):
    """Both paths: a null endpoint links nothing, so its partner stays
    a singleton, and the one null node is labelled null."""
    edges = [(None, "q"), ("b", None), ("c", "b"), (None, None), ("b", "d")]
    expected = {(None, None), ("q", "q"), ("b", "b"), ("c", "b"), ("d", "b")}
    assert _bfs_components(edges) == expected
    for driver in (True, False):
        rows, _ = _cc_rows(spark, edges, StringType(), monkeypatch, driver)
        assert sorted(rows, key=str) == sorted(expected, key=str)
