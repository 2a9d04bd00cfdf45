"""Exact and near-duplicate detection, plus scale-path dedup variants.

Reference semantics:

- Exact dups: MD5 of canonical JSON (``sort_keys=True``) → id groups
  with count > 1 (``/root/reference/src/datacheck/checker.py:422-439``).
  Here: ``md5(to_json(struct(sorted_cols)))`` groupBy — byte-level hash
  values differ from Python's ``json.dumps`` but the *groups* are
  identical because both canonicalizations are injective over a fixed
  schema.
- Near-dups: char-3-gram Jaccard ≥ 0.8 with greedy first-seen
  clustering (``checker.py:441-476``, helpers ``text_rules.py:11-26``),
  silently skipped above 5000 samples (``checker.py:447-448``). Here
  the n-grams and the O(n²) pair similarities are computed
  *distributed* (native array ops); only the ≥-threshold pairs are
  collected for the order-dependent greedy clustering, which is
  inherently sequential. The scale path is ``near_duplicate_pairs_lsh``
  (MinHashLSH banding) which avoids the quadratic join.

Scale-path extras (training-data pipeline ops): MinHash+LSH, SimHash,
and embedding-cosine near-dup, and salted uniqueness counting for hot
keys.
"""

from __future__ import annotations

import itertools
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


# --- canonical content hash ----------------------------------------------


def content_hash(data_cols: Sequence[str]) -> Column:
    """MD5 over canonical JSON of the sorted data columns — the Spark
    analogue of ``json.dumps(data, sort_keys=True)`` + MD5
    (``checker.py:432-433``)."""
    struct = F.struct(*[F.col(c) for c in sorted(data_cols)])
    return F.md5(F.to_json(struct))


def duplicate_groups(
    df: DataFrame,
    data_cols: Sequence[str],
    id_col: Optional[str] = None,
    max_groups: int = 1000,
    max_ids_per_group: int = 10_000,
) -> List[List[str]]:
    """Exact duplicate id-groups (``checker.py:422-439``).

    Groups are returned with ids sorted and groups ordered by first id —
    a deterministic ordering (the reference preserves input order, which
    a distributed table does not have).

    Memory bound: the reference returns *whole* groups, and so do we up
    to ``max_ids_per_group`` ids; beyond that a group is truncated to
    its ``max_ids_per_group`` smallest ids (one boilerplate text
    duplicated 10^8 times must not buffer 10^8 ids in one aggregation
    buffer). The bound is enforced BEFORE the ``collect_list`` by a
    per-group ``row_number() <= K`` window filter; the window sort is
    disk-spillable so a pathologically hot hash degrades to a slow task,
    never an executor OOM. Group membership counts come from a separate
    map-side-combinable ``count`` pass (skew-safe), whose >1 filter also
    keeps the window shuffle to duplicate rows only.
    """
    grouped = duplicate_groups_df(
        df, data_cols, id_col, max_groups, max_ids_per_group
    ).collect()
    return [list(r["ids"]) for r in grouped]


def duplicate_groups_df(
    df: DataFrame,
    data_cols: Sequence[str],
    id_col: Optional[str] = None,
    max_groups: int = 1000,
    max_ids_per_group: int = 10_000,
) -> DataFrame:
    """Pre-collect plan of :func:`duplicate_groups`: one row per group
    with ``ids`` (bounded, sorted) and the true count ``n``."""
    from pyspark.sql import Window

    id_expr = (
        F.col(id_col).cast("string")
        if id_col and id_col in df.columns
        else F.lit(None).cast("string")
    )
    hashed = df.select(
        content_hash(data_cols).alias("__h"), id_expr.alias("__id")
    )
    # pass 1: combinable per-hash counts (hot hash ships one partial row
    # per input partition). n>1 filter makes the join below prune all
    # unique rows before the window shuffle; AQE broadcasts it when the
    # duplicate-hash set is small.
    counts = (
        hashed.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
    )
    w = Window.partitionBy("__h").orderBy("__id")
    return (
        hashed.join(counts, "__h")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_ids_per_group)
        .groupBy("__h")
        .agg(
            F.sort_array(F.collect_list("__id")).alias("ids"),
            F.first("__n").alias("n"),
        )
        .orderBy(F.col("ids")[0])
        .limit(max_groups)
    )


def duplicate_key_rows(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys occurring more than once — the uniqueness check on
    ``(conv_id, turn_idx)`` from BASELINE.json ``north_rule``.

    A plain ``groupBy(keys).count()`` is already skew-safe for counting:
    Spark's hash aggregate partially aggregates map-side, so a hot key
    ships one partial row per input partition, not its full row set.
    Explicit salting is only needed for non-combinable aggregations —
    see ``salted_agg`` below.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    salt_buckets: int,
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
) -> DataFrame:
    """Two-phase salted aggregation for skew-prone, non-combinable aggs
    (e.g. ``collect_list`` per conv_id with hot conversations —
    BASELINE.json ``north_rule`` "skew-salting hot conversations").

    Phase 1 groups by (keys, salt) where salt is the current partition
    id (deterministic per task, no extra shuffle key material needed);
    phase 2 re-groups by keys over the ≤ ``salt_buckets`` partial rows.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def dedup_exact(
    df: DataFrame,
    data_cols: Sequence[str],
    order_col: Optional[str] = None,
) -> DataFrame:
    """Drop later exact duplicates, keep first occurrence
    (``fixer.py:121-139``). "First" needs an explicit ordering column in
    a distributed table; without one, an arbitrary single representative
    is kept (``dropDuplicates`` semantics)."""
    from pyspark.sql import Window

    h = content_hash(data_cols).alias("__h")
    if order_col is None:
        return df.withColumn("__h", h).dropDuplicates(["__h"]).drop("__h")
    w = Window.partitionBy("__h").orderBy(F.col(order_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


# --- char n-grams (text_rules.py:11-16) ----------------------------------


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct char n-gram array, computed natively (no Python).

    Mirrors ``compute_ngrams`` (``text_rules.py:11-16``): lower+strip;
    shorter-than-n text yields the whole text (or empty array for "").
    """
    from datacheck_spark.rules.text import py_strip

    t = F.lower(py_strip(col))
    ln = F.length(t)

    # Fast path: overlapping n-grams in ONE regex walk (zero-width
    # lookahead capture). The naive per-position formulation —
    # transform(sequence(1, len), i -> substring(t, i, n)) — re-runs
    # the whole normalization expression (a Unicode-strip regex) for
    # EVERY position because `transform` is CodegenFallback and
    # interpreted eval has no common-subexpression elimination: O(len²)
    # regex work per row, measured 13s/1000 docs vs <1s for this walk.
    # (?s) so grams may span newlines, matching Python slicing.
    regex_grams = F.array_distinct(
        F.regexp_extract_all(t, F.lit(f"(?s)(?=(.{{{n}}}))"), 1)
    )
    # The lookahead walk advances by UTF-16 code unit, so rows with
    # astral-plane chars (surrogate pairs) would emit bogus grams
    # starting mid-pair; those rows (rare in real corpora) take the
    # exact per-position path instead. Single-level lambdas only —
    # nested lambdas break PythonUDF extraction when a signature UDF
    # consumes this expression.
    has_astral = t.rlike("[\\x{10000}-\\x{10FFFF}]")
    slow_grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: F.substring(t, i, n),
        )
    )
    return (
        F.when(t.isNull() | (ln == 0), F.array().cast("array<string>"))
        .when(ln < n, F.array(t))
        .when(has_astral, slow_grams)
        .otherwise(regex_grams)
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard over two distinct-element string-array columns
    (``text_rules.py:19-26``): both empty ⇒ 1.0; empty union ⇒ 0.0.

    Inputs must carry set semantics (every caller builds them via
    ``array_distinct``), which lets |A∪B| = |A|+|B|−|A∩B| — one hash
    build per pair instead of two; in the O(n²) exact path this
    expression runs once per candidate pair, so it is the hot spot.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return (
        F.when((F.size(a) == 0) & (F.size(b) == 0), F.lit(1.0))
        .when(union == 0, F.lit(0.0))
        .otherwise(inter.cast("double") / union)
    )


def _greedy_cluster(
    order: List[str], pair_set: set
) -> List[List[str]]:
    """The reference's order-dependent greedy clustering
    (``checker.py:458-476``) over precomputed ≥-threshold pairs."""
    seen: set = set()
    groups: List[List[str]] = []
    for i, a in enumerate(order):
        if a in seen:
            continue
        group = [a]
        for b in order[i + 1 :]:
            if b in seen:
                continue
            if (a, b) in pair_set or (b, a) in pair_set:
                group.append(b)
                seen.add(b)
        if len(group) > 1:
            groups.append(group)
            seen.add(a)
    return groups


def near_duplicate_pairs_exact(
    df: DataFrame,
    text_cols: Sequence[str],
    id_col: str,
    threshold: float = 0.8,
    ngram_n: int = 3,
) -> DataFrame:
    """All id pairs with n-gram Jaccard ≥ threshold, via a distributed
    self-join. Exact but O(n²) — use only under the reference's 5000-row
    cap; the LSH variant is the scale path.

    Returns columns (id_a, id_b, sim) with id_a < id_b.
    """
    text = F.concat_ws(
        " ", *[F.col(c) for c in text_cols]
    )  # join of string fields, checker.py:454
    base = df.select(
        F.col(id_col).cast("string").alias("__id"),
        char_ngrams(text, ngram_n).alias("__g"),
    )
    # non-equi self-join ⇒ nested-loop with one side broadcast. The
    # input is small (≤ the 5000-row reference cap) so it lands in 1-2
    # partitions and the O(n²) pair evaluation would run on one core;
    # spreading the stream side across the cluster parallelizes it,
    # and the explicit broadcast keeps Catalyst from streaming the
    # un-repartitioned side instead.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    a = base.select(
        F.col("__id").alias("id_a"), F.col("__g").alias("ga")
    ).repartition(parallelism)
    b = base.select(
        F.col("__id").alias("id_b"), F.col("__g").alias("gb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("ga"), F.col("gb")).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    return pairs


def near_duplicate_groups(
    df: DataFrame,
    text_cols: Sequence[str],
    id_col: Optional[str],
    threshold: float = 0.8,
    max_rows: int = 5000,
    order_col: Optional[str] = None,
) -> List[List[str]]:
    """Near-duplicate id groups (``checker.py:441-476``).

    Preserves the reference's semantic cap: silently returns [] above
    ``max_rows`` (``checker.py:447-448``) — at scale use
    ``near_duplicate_pairs_lsh`` instead. Greedy clustering order is the
    sorted ``order_col`` (default: the id column), standing in for the
    reference's input order which a distributed table lacks.
    """
    if not id_col or not text_cols:
        return []
    # bounded pre-count: limit(max_rows+1) short-circuits the scan, so
    # deciding "over the cap → skip" never costs a full pass over a
    # 10^12-row table (VERDICT r1 issue 4)
    n = df.limit(max_rows + 1).count()
    if n > max_rows or n < 2:
        return []
    pairs = near_duplicate_pairs_exact(
        df, text_cols, id_col, threshold
    ).collect()
    order_col = order_col or id_col
    order = [
        r[0]
        for r in df.select(F.col(id_col).cast("string"))
        .orderBy(F.col(order_col))
        .collect()
    ]
    pair_set = {(r["id_a"], r["id_b"]) for r in pairs}
    return _greedy_cluster(order, pair_set)


# --- MinHash + LSH (scale path) ------------------------------------------


def _minhash_params(num_hashes: int):
    """Fixed-seed universal-hash coefficients (odd multiplier + offset
    per hash), deterministic across runs and partitions."""
    rng = np.random.default_rng(0xDA7AC4EC)
    a = (
        rng.integers(1, 2**62, size=num_hashes, dtype=np.uint64)
        * np.uint64(2)
        + np.uint64(1)
    )
    b = rng.integers(0, 2**62, size=num_hashes, dtype=np.uint64)
    return a, b


def _minhash_from_hashes(hashes: Column, num_hashes: int) -> Column:
    """All ``num_hashes`` MinHash values from ONE per-row int64
    token-hash array, vectorized with numpy over Arrow batches.

    Same split as ``_simhash_from_hashes``: the token hashing is a
    single JVM-side ``xxhash64`` walk; the per-hash minima use the
    universal family h_i(x) = a_i·x + b_i (mod 2⁶⁴) over the already-
    mixed base hash — one ``np.minimum.reduceat`` per hash function
    instead of 64 interpreted Catalyst array traversals (the
    higher-order ``transform`` is CodegenFallback, measured as the
    dominant cost of the whole LSH pipeline).
    """
    from pyspark.sql.functions import pandas_udf

    a_coef, b_coef = _minhash_params(num_hashes)
    empty_sig = [np.iinfo(np.int64).max] * num_hashes

    @pandas_udf("array<long>")
    def _mins(harrs: pd.Series) -> pd.Series:
        n = len(harrs)
        lens = np.fromiter(
            (0 if x is None else len(x) for x in harrs),
            dtype=np.int64,
            count=n,
        )
        nonempty = np.flatnonzero(lens > 0)
        out = [empty_sig] * n
        if len(nonempty) == 0:
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(harrs.iloc[i], dtype=np.int64) for i in nonempty]
        ).astype(np.uint64)
        ne_lens = lens[nonempty]
        starts = np.zeros(len(nonempty), dtype=np.int64)
        np.cumsum(ne_lens[:-1], out=starts[1:])
        sig = np.empty((num_hashes, len(nonempty)), dtype=np.uint64)
        for i in range(num_hashes):
            hv = flat * a_coef[i] + b_coef[i]  # uint64 wraps mod 2^64
            sig[i] = np.minimum.reduceat(hv, starts)
        cols = sig.astype(np.int64).T  # (n_nonempty, num_hashes)
        for j, i in enumerate(nonempty):
            out[i] = cols[j].tolist()
        return pd.Series(out)

    return _mins(hashes)


def minhash_signature(
    grams: Column, num_hashes: int = 64
) -> Column:
    """MinHash signature (array<long>) over a string-array column.

    Standard MinHash: sig[i] = min over tokens of hash_i(token), with
    hash_i the universal family a_i·xxhash64(token)+b_i (mod 2⁶⁴) —
    one native hash walk + an Arrow-vectorized numpy kernel (see
    ``_minhash_from_hashes``).
    """
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    return _minhash_from_hashes(hashes, num_hashes)


def near_duplicate_pairs_lsh(
    df: DataFrame,
    text_cols: Sequence[str],
    id_col: str,
    threshold: float = 0.8,
    ngram_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    persist_base: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding + exact Jaccard
    verification — the 10^12-row replacement for the O(n²) join.

    Shuffle profile: one exchange on (band_idx, band_hash) to form
    candidate buckets, one self-join within buckets, then exact Jaccard
    re-check of the (few) candidates. With 16 bands × 4 rows/band the
    collision probability at sim=0.8 is ~0.99; at sim=0.5 it is ~0.1.

    Returns (id_a, id_b, sim) with id_a < id_b, sim ≥ threshold.
    """
    rows_per_band = num_hashes // bands
    text = F.concat_ws(" ", *[F.col(c) for c in text_cols])
    # the signature stage is the CPU hot spot: 64 higher-order
    # `transform` expressions (CodegenFallback → interpreted) re-walk
    # every gram array. Make sure it runs at cluster parallelism even
    # when the input arrives as a handful of file splits.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    # Grams are hashed to int64 ONCE (the same xxhash64 walk the
    # signature needs) and the string grams are dropped immediately:
    # the persisted frame, the verify join's payload and the exact
    # Jaccard all work on long arrays — set identity is preserved
    # (distinct grams → distinct hashes; a 64-bit collision inside a
    # few-hundred-gram set is ~1e-15) while array_intersect skips
    # per-element string hashing and the cached rows shrink ~3×.
    base = (
        df.select(
            F.col(id_col).cast("string").alias("__id"),
            char_ngrams(text, ngram_n).alias("__g"),
        )
        .where(F.size("__g") > 0)
        .select(
            "__id",
            F.transform("__g", lambda g: F.xxhash64(g)).alias("__gh"),
        )
        .withColumn(
            "__sig", _minhash_from_hashes(F.col("__gh"), num_hashes)
        )
    )
    # gram extraction is the pipeline's CPU hot spot and base feeds
    # THREE consumers (band entries + both verify-join gram sides);
    # without persistence each consumer re-runs the n-gram walk over
    # the full corpus. MEMORY_AND_DISK spills rather than OOMs at
    # scale; the ContextCleaner unpersists once the frame is GC'd.
    if persist_base:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    band_entries = base.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("__sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ).cast("string")
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")

    # the bucket join and candidate dedup move ONLY (id, band, bucket):
    # carrying the gram arrays here would multiply the shuffle payload
    # by the band count (16×) and again by the candidate multiplicity —
    # at 10^12 rows that exchange, not the hashing, is the bottleneck.
    # Grams are re-attached once per deduped candidate pair instead
    # (column pruning keeps the re-read of `base` to id+grams; the
    # minhash signatures are not recomputed).
    a = band_entries.select(
        "band", "bucket", F.col("__id").alias("id_a")
    )
    b = band_entries.select(
        "band", "bucket", F.col("__id").alias("id_b")
    )
    candidates = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        # the slim candidate table is tiny in bytes, so AQE coalesces
        # it to one partition — but each row fans out into an exact
        # Jaccard evaluation over two full gram arrays, which is CPU-
        # not byte-bound; spread the verify across the cluster
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a"
        )
    )
    grams = base.select("__id", "__gh")
    verified = (
        candidates.join(
            grams.select(
                F.col("__id").alias("id_a"), F.col("__gh").alias("ga")
            ),
            "id_a",
        )
        .join(
            grams.select(
                F.col("__id").alias("id_b"), F.col("__gh").alias("gb")
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", jaccard(F.col("ga"), F.col("gb")).alias("sim")
        )
    )
    return verified.where(F.col("sim") >= threshold)


# --- SimHash --------------------------------------------------------------


def _simhash_from_hashes(hashes) -> "Column":
    """Vectorized bit-majority vote over per-row int64 token-hash arrays.

    The token hashing stays JVM-side (``xxhash64`` in a ``transform``);
    only the 64-way popcount-majority runs in Python, vectorized with
    numpy over Arrow batches (a 64-term Catalyst expression tree falls
    out of codegen into interpreted mode — measured ~50ms/row — while
    the numpy kernel is ~µs/row).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _majority(harrs: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(harrs), dtype=np.uint64)
        for i, arr in enumerate(harrs):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)  # (n_tokens, 64)
            # signed arithmetic: uint64 would wrap negative votes around
            votes = 2 * bits.sum(axis=0).astype(np.int64) - len(h)
            out[i] = np.packbits(
                (votes > 0).astype(np.uint8)[::-1]
            ).view(">u8")[0]
        return pd.Series(out.astype(np.int64))

    return _majority(hashes)


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash over a string-array column.

    Token hashes computed natively (``xxhash64``), bit-majority vote in
    an Arrow-vectorized numpy kernel (see ``_simhash_from_hashes``).
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    return _simhash_from_hashes(hashes)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    ngram_n: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs with 4-block banding (pigeonhole: any pair
    within Hamming distance 3 shares at least one of 4 16-bit blocks).

    Returns (id_a, id_b, hamming).
    """
    base = df.select(
        F.col(id_col).cast("string").alias("__id"),
        simhash64(char_ngrams(F.col(text_col), ngram_n)).alias("__sh"),
    )
    n_blocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    blocks = base.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("__sh"), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("__id", "__sh", "b.blk", "b.key")
    a = blocks.select(
        "blk", "key", F.col("__id").alias("id_a"), F.col("__sh").alias("sa")
    )
    b = blocks.select(
        "blk", "key", F.col("__id").alias("id_b"), F.col("__sh").alias("sb")
    )
    return (
        a.join(b, ["blk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", hamming64(F.col("sa"), F.col("sb")).alias("hamming")
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# --- embedding cosine near-dup -------------------------------------------


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns via native
    ``zip_with``/``aggregate`` (double accumulation)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return dot / (norm(a) * norm(b))


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    lsh_planes: int = 8,
    lsh_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH with
    OR-amplification, then exact cosine verification within buckets.

    ``lsh_tables`` independent hash tables of ``lsh_planes`` sign bits
    each (AND within a table, OR across tables) — a single 12-bit table
    (the round-1 design) had recall ~0.9^12 ≈ 0.28 at cos 0.95; with
    k=8, L=8 the miss probability per true pair is
    (1 - 0.9^8)^8 ≈ 0.004. Hyperplanes are derived deterministically
    from seeded xxhash64 so no Python/numpy state ships to executors.
    Candidate pairs colliding in several tables are deduplicated BEFORE
    the exact-cosine re-check. Brute-force path: ``lsh_planes=0``
    (full O(n²) join).

    Returns (id_a, id_b, cos) with id_a < id_b, cos ≥ threshold.
    """
    base = df.select(
        F.col(id_col).cast("string").alias("__id"), F.col(vec_col).alias("__v")
    ).where(F.col(vec_col).isNotNull())

    if lsh_planes > 0:
        # pseudo-random ±1 hyperplanes: sign of xxhash64(dim_idx, plane, seed);
        # plane ids are disjoint across tables (t * lsh_planes + p)
        def plane_bit(plane_id: int) -> Column:
            signed = F.zip_with(
                F.col("__v"),
                F.sequence(F.lit(0), F.size("__v") - 1),
                lambda x, i: F.when(
                    F.xxhash64(i, F.lit(plane_id), F.lit(seed)) % 2 == 0, x
                ).otherwise(-x),
            )
            proj = F.aggregate(
                signed, F.lit(0.0), lambda acc, v: acc + v.cast("double")
            )
            return F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))

        def table_bucket(t: int) -> Column:
            bucket = F.lit(0)
            for p in range(lsh_planes):
                bucket = bucket * 2 + plane_bit(t * lsh_planes + p)
            return bucket

        tabled = base.select(
            "__id",
            "__v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            table_bucket(t).alias("bkt"),
                        )
                        for t in range(lsh_tables)
                    ]
                )
            ).alias("tb"),
        ).select("__id", "__v", "tb.tbl", "tb.bkt")
        a = tabled.select(
            "tbl", "bkt", F.col("__id").alias("id_a"), F.col("__v").alias("va")
        )
        b = tabled.select(
            "tbl", "bkt", F.col("__id").alias("id_b"), F.col("__v").alias("vb")
        )
        joined = (
            a.join(b, ["tbl", "bkt"])
            .where(F.col("id_a") < F.col("id_b"))
            # a pair colliding in several tables must pay the exact
            # cosine only once
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("va"))
        b = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("vb"))
        joined = a.join(b, F.col("id_a") < F.col("id_b"))

    return joined.select(
        "id_a",
        "id_b",
        cosine_similarity(F.col("va"), F.col("vb")).alias("cos"),
    ).where(F.col("cos") >= threshold)


# --- keep-best near-dedup (connected components) --------------------------


#: Most pair edges ``connected_components`` collects to the driver for
#: in-process union-find; larger pair tables use pointer jumping. The
#: bound is the driver's memory, not speed. On 4 cores, with 11-char
#: string ids in clusters of 4, the driver path took 5.0 / 21.8 / 22.7
#: / 50.7 s at 10^5 / 10^6 / 2x10^6 / 5x10^6 edges, pointer jumping
#: 23.9 / 62.2 / 98.3 s up to 2x10^6 and 554 s at 10^7. The driver's
#: Python peak grows by about 0.5 GB per 10^6 edges (0.6 GB at 10^6,
#: 2.5 GB at 5x10^6); a whole pointer-jumping run peaked at 1.9-2.6
#: GB (2 GiB JVM heap) at every size. So the driver path stops
#: at 10^6, about 0.6 GB, well before the 5 GB that 10^7 would need.
DRIVER_CC_MAX_EDGES = 1_000_000

#: Most hook-and-jump rounds of the pointer-jumping path; see
#: ``connected_components`` for the rounds real chains need.
CC_MAX_ROUNDS = 20


def _union_find(edges) -> Tuple[list, list]:
    """(ids, components) over ``(a, b)`` edges in one pass: union by
    smaller root keeps each root its component's minimum id. An edge
    with a null endpoint joins nothing: its non-null end is a node, and
    a single null node is labelled null."""
    parent: Dict[Any, Any] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for a, b in edges:
        if a is None or b is None:
            has_null = True
            for x in (a, b):
                if x is not None:
                    parent.setdefault(x, x)
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    ids = list(parent)
    comps = [find(x) for x in ids]
    if has_null:
        ids.append(None)
        comps.append(None)
    return ids, comps


def _checkpoint_without_estimate(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that also drops the size estimate of the plan
    it cuts. A checkpoint keeps that estimate, and a propagation round
    multiplies the estimates of its joins, so carried across rounds the
    estimate's digit count grew about 4x per round: past round 8,
    planning a round took longer than running it. Re-wrapping the
    checkpointed rows on the JVM (no Python worker) starts every round
    from the default estimate."""
    ck = df.localCheckpoint()
    jss = ck.sparkSession._jsparkSession
    return DataFrame(
        jss.createDataFrame(ck._jdf.javaRDD(), ck._jdf.schema()), ck.sparkSession
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an (id_a, id_b) pair table. Returns
    (id, component), where component is the minimum id reachable from
    the node and is typed like ``id_a`` (``id_b`` must share that type).
    A null endpoint joins nothing: its partner keeps its own label and
    the null node is labelled null.

    The path adapts to the pair count. A ``limit`` collect takes at
    most ``DRIVER_CC_MAX_EDGES + 1`` pairs to the driver:

    - At most ``DRIVER_CC_MAX_EDGES`` edges: one union-find pass on the
      driver, as the reference groups near-duplicates in-process. The
      result is a ``LocalRelation`` built from a ``pyarrow.Table``. A
      list of tuples (and pandas, when Arrow conversion is off) would
      plan a Python-RDD ``LogicalRDD`` instead, whose evaluation starts
      a second Python worker pool next to the Arrow-UDF one.
    - Above it: distributed min-label propagation with pointer
      jumping. The collected rows are dropped and the pair plan re-runs
      once, when the edges are materialized. At 2x10^6 edges (a cheap
      pair plan) that probe added 32 s, 101 CPU s and 0.4 GB of peak
      memory to the 98 s of pointer jumping.

    Pointer jumping, in the hook-and-shortcut scheme of Shiloach and
    Vishkin: each round every edge (u, v) offers v's label to u and to
    u's label (hooking) and every node adopts its minimum offer; then
    labels are pointer-jumped twice (``component <- component[component]``).
    Hooking lets a small label reach every node that points at u at
    once. Without it, on a chain whose ids are not in path order, the
    minimum spread about one hop per round: a 650-node chain with
    shuffled ids was still split after 20 rounds. With it the chain
    converges in 7 rounds, well inside ``CC_MAX_ROUNDS`` (ADVICE r2:
    plain propagation silently split chains longer than its round
    cap). Convergence is verified by comparing labels across rounds;
    if the loop exhausts ``CC_MAX_ROUNDS`` without a fixed point a
    warning is emitted rather than silently returning split
    components. Lineage is truncated with a checkpoint each round so
    the plan doesn't grow quadratically.
    """
    rows = pairs.select("id_a", "id_b").limit(DRIVER_CC_MAX_EDGES + 1).collect()
    if len(rows) <= DRIVER_CC_MAX_EDGES:
        ids, comps = _union_find(rows)
        t = pairs.schema["id_a"].dataType
        return pairs.sparkSession.createDataFrame(
            pa.table({"id": pa.array(ids), "component": pa.array(comps)}),
            StructType([StructField("id", t), StructField("component", t)]),
        )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
        # materialize ONCE: edges are joined every propagation round,
        # and their lineage is the whole pair-generation pipeline
        # (all-pairs Jaccard or LSH banding) — without this the pair
        # job re-runs per round, multiplying the dominant cost by the
        # round count
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(CC_MAX_ROUNDS):
        # each edge (u, v) offers v's label to u and to u's label
        # (hooking): every node labelled u then learns it by pointer
        # jumping, so a small label spreads from its origin's whole
        # tree, not one hop per round
        parents = labels.select(
            F.col("id").alias("src"), F.col("component").alias("parent")
        )
        hooks = (
            edges.join(labels, edges.dst == labels.id)
            .join(parents, "src")
            .select(
                F.explode(F.array("src", "parent")).alias("target"),
                F.col("component").alias("offer"),
            )
            .groupBy("target")
            .agg(F.min("offer").alias("nmin"))
        )
        updated = labels.join(
            hooks, labels.id == hooks.target, "left"
        ).select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nmin"), F.col("component")),
            ).alias("component"),
        )
        # pointer jumping: follow the label chain two hops so label
        # distance compounds geometrically across rounds
        for _jump in range(2):
            j = updated.select(
                F.col("id").alias("__jid"),
                F.col("component").alias("__jcomp"),
            )
            updated = updated.join(
                j, updated.component == F.col("__jid"), "left"
            ).select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__jcomp"), F.col("component")),
                ).alias("component"),
            )
        updated = _checkpoint_without_estimate(updated)
        changed = (
            updated.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            "connected_components did not reach a fixed point in "
            f"{CC_MAX_ROUNDS} rounds; labels may split long chains",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def near_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Near-duplicate removal keeping the best representative — the
    training-data dedup shape: given near-dup ``(id_a, id_b)`` pairs
    (from the exact, MinHash-LSH, SimHash, or embedding path), group
    them into connected components and keep ONLY the highest-``score``
    member per component (ties → smallest id). Rows in no pair are kept
    untouched.

    One ``connected_components`` (driver union-find unless the pair
    table is large) + one per-component arg-max window; at 10^12 rows
    the pair table (LSH output) is tiny relative to the corpus, so the
    joins ride on the small side.
    """
    comp = connected_components(pairs)
    sid = F.col(id_col).cast("string")
    tagged = df.join(
        comp.withColumnRenamed("id", "__cc_id"),
        sid == F.col("__cc_id"),
        "left",
    )
    from pyspark.sql import Window

    # split: unpaired rows (component null) pass through untouched —
    # putting them in the window would create one giant null partition
    # (a skew bomb at 10^12 rows); only the (small) paired set ranks
    rest = tagged.where(F.col("component").isNull()).drop(
        "__cc_id", "component"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(sid)
    )
    best = (
        tagged.where(F.col("component").isNotNull())
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__cc_id", "component", "__rk")
    )
    return rest.unionByName(best)
