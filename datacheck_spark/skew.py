"""Partition / key-skew diagnostics.

Beyond-reference operator (no counterpart in
``/root/reference/src/datacheck``): at 10^12-turn scale the #1 cause
of a stuck job is a skewed shuffle key — one hot conversation or user
lands an entire reducer partition on a single task. The reference's
in-memory checker never meets this problem; a cluster engine must
*diagnose* it before the shuffle is attempted, and pick a salt factor.

Everything here is plain DataFrame aggregation — scales as a single
partial-agg shuffle per profile, with the hot-key top-k taken via
``TakeOrderedAndProject`` (per-partition top-k, never a full sort).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Sequence

from pyspark.sql import DataFrame, functions as F


def key_count_profile(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Per-key row counts with global context attached.

    One shuffle (map-side partial ``count`` → per-key totals); the
    1-row global stats frame is crossJoined back (broadcast of a single
    row — no second shuffle). Columns: the key cols + ``cnt`` +
    ``share`` (fraction of all rows) + ``skew`` (cnt / mean rows per
    key; 1.0 = perfectly uniform).
    """
    key_cols = list(key_cols)
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    return counts.crossJoin(F.broadcast(stats)).select(
        *key_cols,
        "cnt",
        (F.col("cnt").cast("double") / F.col("__total")).alias("share"),
        (
            F.col("cnt").cast("double")
            * F.col("__n_keys")
            / F.col("__total")
        ).alias("skew"),
    )


def hot_keys(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 20,
    min_skew: float = 0.0,
) -> DataFrame:
    """The ``top_k`` hottest shuffle keys, hottest first (ties broken
    by key value for determinism). ``min_skew`` filters to keys at
    least that many times the uniform share (e.g. 4.0 = only keys
    holding ≥4× their fair share of rows).

    The limit is pushed into ``TakeOrderedAndProject`` — each partition
    retains only its local top-k, so the driver sees ≤ partitions×k
    rows regardless of key cardinality.
    """
    key_cols = list(key_cols)
    prof = key_count_profile(df, key_cols)
    if min_skew > 0:
        prof = prof.where(F.col("skew") >= min_skew)
    return prof.orderBy(
        F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols]
    ).limit(top_k)


@dataclass
class SkewReport:
    """Driver-side skew summary for one candidate shuffle key."""

    key_cols: List[str] = dc_field(default_factory=list)
    total_rows: int = 0
    distinct_keys: int = 0
    mean_rows_per_key: float = 0.0
    max_key_rows: int = 0
    max_skew: float = 0.0
    p99_key_rows: float = 0.0
    hot_keys: List[Dict[str, Any]] = dc_field(default_factory=list)
    salt_recommendations: Dict[str, int] = dc_field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        return {
            "key_cols": self.key_cols,
            "total_rows": self.total_rows,
            "distinct_keys": self.distinct_keys,
            "mean_rows_per_key": self.mean_rows_per_key,
            "max_key_rows": self.max_key_rows,
            "max_skew": self.max_skew,
            "p99_key_rows": self.p99_key_rows,
            "hot_keys": self.hot_keys,
            "salt_recommendations": self.salt_recommendations,
        }


def diagnose_key_skew(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 20,
    salt_threshold: float = 4.0,
) -> SkewReport:
    """Full driver-side skew diagnosis for ``groupBy/join on key_cols``.

    Two jobs over the per-key counts (global stats agg + bounded
    top-k); per-key state never reaches the driver beyond the top-k.
    ``salt_recommendations`` maps each hot key (skew ≥
    ``salt_threshold``) to the salt fan-out that levels it back to the
    mean: ``ceil(skew)`` sub-keys — the number `dedup.salted_agg` /
    AQE's skew-join split would need.
    """
    key_cols = list(key_cols)
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.persist()
    try:
        srow = counts.agg(
            F.sum("cnt").alias("total"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
            F.percentile_approx("cnt", F.lit(0.99)).alias("p99"),
        ).collect()[0]
        total = srow["total"] or 0
        n_keys = srow["n_keys"] or 0
        if not total:
            return SkewReport(key_cols=key_cols)
        mean = total / n_keys
        top = (
            counts.orderBy(
                F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols]
            )
            .limit(top_k)
            .collect()
        )
        hot: List[Dict[str, Any]] = []
        salts: Dict[str, int] = {}
        for r in top:
            skew = r["cnt"] / mean
            key_repr = "|".join(str(r[c]) for c in key_cols)
            hot.append(
                {
                    "key": {c: r[c] for c in key_cols},
                    "cnt": r["cnt"],
                    "skew": skew,
                }
            )
            if skew >= salt_threshold:
                salts[key_repr] = int(math.ceil(skew))
        return SkewReport(
            key_cols=key_cols,
            total_rows=total,
            distinct_keys=n_keys,
            mean_rows_per_key=mean,
            max_key_rows=srow["max_cnt"],
            max_skew=srow["max_cnt"] / mean,
            p99_key_rows=float(srow["p99"]),
            hot_keys=hot,
            salt_recommendations=salts,
        )
    finally:
        counts.unpersist()


def partition_profile(df: DataFrame) -> Dict[str, Any]:
    """Rows per *physical* partition of ``df`` as currently planned —
    the direct read on "will any one task get stuck?".

    ``spark_partition_id()`` groupBy is a near-free shuffle (one output
    row per partition); imbalance = max/mean rows, the factor by which
    the slowest task outlives the average. The groupBy only yields rows
    for NON-empty partitions, so the planned partition count comes from
    the RDD metadata and empties are folded back in — a key hashed to 2
    of 8 partitions must read as 8-way-skewed, not 2-way-balanced.
    """
    n_planned = df.rdd.getNumPartitions()
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.count(F.lit(1)).alias("n_nonempty"),
            F.sum("cnt").alias("total"),
            F.min("cnt").alias("min_rows"),
            F.max("cnt").alias("max_rows"),
        )
        .collect()[0]
    )
    n_nonempty = rows["n_nonempty"] or 0
    n = max(n_planned, n_nonempty)
    if not n or not n_nonempty:
        return {
            "n_partitions": n,
            "n_empty": n,
            "total_rows": 0,
            "imbalance": 0.0,
        }
    total = rows["total"]
    mean = total / n
    return {
        "n_partitions": n,
        "n_empty": n - n_nonempty,
        "total_rows": total,
        "min_rows": rows["min_rows"] if n == n_nonempty else 0,
        "max_rows": rows["max_rows"],
        "mean_rows": mean,
        "imbalance": (rows["max_rows"] / mean) if mean else 0.0,
    }
