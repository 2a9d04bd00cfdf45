"""Sequence packing for LLM pretraining: concat-and-chunk pack ids.

Assigns every document a ``pack_id`` under the standard
concatenate-then-chunk semantics: documents are laid out in a stable
global order (``order_col``), token counts accumulate, and a document
belongs to the pack in which its FIRST token lands
(``pack_id = floor(start_offset / budget)``).

Scale design — the naive expression is a global
``sum().over(Window.orderBy(...))``, which Spark executes as a
SINGLE-partition window (the whole table through one task). Instead
this runs the classic two-phase distributed prefix sum over EXPLICIT
range buckets:

1. one column-pruned agg sizes the input and rejects null order keys
   (a null has no defined position in the stable global order);
2. bucket boundaries are derived ONCE on the driver from a
   deterministic hash-threshold sample of the key column
   (``xxhash64(key) % m == 0`` — a pure function of the key, so the
   sample, and therefore every downstream bucket id, is identical on
   any partitioning, any recompute, any cluster shape). Earlier
   versions used ``repartitionByRange`` + ``localCheckpoint`` to
   freeze Spark's own range boundaries (its boundary sampling reseeds
   per plan execution); that pinned the whole table in executor
   memory/disk and — because ``localCheckpoint`` truncates lineage
   without reliable storage — made the job unrecoverable after an
   executor loss. Explicit boundaries need no freeze: the bucket id is
   recomputed bit-identically wherever the lineage is replayed;
3. per-bucket token totals are aggregated (map-side combine; ONE row
   per bucket, so driver state is O(buckets), not rows) and turned
   into running offsets in bucket order — bucket ids are monotone in
   the key, so bucket order IS the global order;
4. a bucket-local cumulative sum (window partitioned by bucket id)
   plus the broadcast-joined offset yields the exact global prefix sum.

The bucket id is a flat sum of ``key >= boundary`` comparisons — an
O(buckets) whole-stage-codegen expression per row. That is trivial at
the default bucket counts (tens to hundreds); for many thousands of
buckets a two-level boundary lookup would be the next step.

The result is a pure function of (order, token counts): independent of
partition count and boundary placement, because the offsets correct
for any split of the global order. Verified in tests against a
single-partition run and a DuckDB window-function oracle.

Note: the input's lineage is scanned by jobs 1–3 (column-pruned to the
key + token columns) and once more by the final job; callers packing
the output of an expensive upstream computation should persist it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: bucket-id column added internally; dropped from the output
_BUCKET = "__pack_bucket"
#: driver-side boundary-sample cap — bounds collect size at any scale
_MAX_SAMPLE = 200_000


def assign_packs(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``start_offset`` (global tokens before this document) and
    ``pack_id`` (``floor(start_offset / budget)``) columns.

    ``order_col`` must be a unique, non-null key — it defines the
    stable layout order (the north rule's determinism requirement:
    same input, same packs, on any cluster shape). Null order keys
    raise ``ValueError``; null token counts pack as 0 tokens.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = df.sparkSession
    tokens = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # job 1 (column-pruned): size the input and reject null keys in the
    # same agg — count(col) skips nulls, so n != nk means nulls exist
    st = df.agg(
        F.count(F.lit(1)).alias("n"), F.count(order_col).alias("nk")
    ).first()
    n, nk = st["n"], st["nk"]
    if n != nk:
        raise ValueError(
            f"order_col {order_col!r} has {n - nk} null value(s); a null "
            "key has no position in the stable global order — filter or "
            "fill them first"
        )
    # job 2 (column-pruned): deterministic boundary sample. The keep
    # predicate depends only on the key value, never on partitioning or
    # a seed, so recomputation anywhere yields the same boundaries.
    target = min(max(parts * 32, 64), _MAX_SAMPLE)
    mod = max(1, n // target)
    keys = sorted(
        r[0]
        for r in df.select(F.col(order_col).alias("__k"))
        .where(F.pmod(F.xxhash64(F.col(order_col)), F.lit(mod)) == 0)
        .collect()
    )
    bounds: list = []
    if keys and parts > 1:
        step = len(keys) / parts
        for i in range(1, parts):
            b = keys[min(len(keys) - 1, int(i * step))]
            if not bounds or b > bounds[-1]:
                bounds.append(b)
    # bucket id = number of boundaries <= key: monotone in the key, so
    # bucket order is the global order; flat codegen-able sum of
    # comparisons (no higher-order function → no CodegenFallback)
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(
            F.col(order_col) >= F.lit(b), 1
        ).otherwise(0)
    bdf = df.withColumn(_BUCKET, bucket.cast("int"))
    # job 3 (column-pruned, map-side combined): per-bucket token totals
    totals = (
        bdf.groupBy(_BUCKET).agg(F.sum(tokens).alias("__t")).collect()
    )
    totals.sort(key=lambda r: r[_BUCKET])
    rows = []
    running = 0
    for r in totals:
        rows.append((r[_BUCKET], running))
        running += r["__t"] or 0
    # the offset table is O(buckets) — small enough to inline as a
    # literal map expression (whole-stage codegen lookup) instead of a
    # broadcast join: one plan node, no exchange, no driver->executor
    # RDD scan
    if rows:
        offset_map = F.create_map(
            *[F.lit(x) for bid_off in rows for x in bid_off]
        )
    else:
        offset_map = F.create_map(F.lit(0), F.lit(0))
    w = Window.partitionBy(_BUCKET).orderBy(F.col(order_col).asc())
    local_cum = F.sum(tokens).over(w) - tokens  # tokens BEFORE this row
    out = bdf.withColumn(
        "start_offset",
        F.coalesce(
            offset_map[F.col(_BUCKET)].cast("long"), F.lit(0)
        )
        + local_cum,
    ).withColumn(
        "pack_id", F.floor(F.col("start_offset") / F.lit(budget))
    )
    return out.select(*df.columns, "start_offset", "pack_id")


def pack_stats(packed: DataFrame, token_col: str) -> DataFrame:
    """Per-pack rollup of an :func:`assign_packs` result: document
    count and token total (the final pack is the only one allowed to
    be under-full; every other pack spans >= budget tokens because a
    document straddling a boundary counts toward the pack it starts
    in)."""
    tokens = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tokens).alias("tokens"),
            F.min("start_offset").alias("first_offset"),
        )
        .orderBy("pack_id")
    )
