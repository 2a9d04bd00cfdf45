"""Train/test leakage detection: exact semi-join + near-match LSH join.

Reference: ``check_leakage`` (``mcp_server.py:633-704``):

- exact: join on auto-detected key fields (string fields with values
  > 10 chars in the first sample, ``mcp_server.py:642-648``) — here a
  ``left_semi`` join on the key columns;
- near: token-set Jaccard ≥ threshold (default 0.9, ``< 1.0``), capped
  at 5000 train × 500 test rows with first-match-wins
  (``mcp_server.py:665-688``) — here exact pairwise under the caps for
  parity, MinHash-LSH banding at scale.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datacheck_spark import stats as S


def detect_key_fields(df: DataFrame, min_chars: int = 10) -> List[str]:
    """String columns whose average length exceeds ``min_chars`` — the
    DataFrame reading of the reference's first-sample heuristic
    (``mcp_server.py:642-648``)."""
    aggs = S.profile_aggs(df, ["lavg"])
    if not aggs:
        return []
    row = S.profile(df, aggs)
    return [c for c in df.columns if (row.get(f"lavg__{c}") or 0) > min_chars]


def exact_leakage(
    train: DataFrame,
    test: DataFrame,
    key_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Test rows whose key tuple appears in train (left-semi join —
    broadcast or sort-merge chosen by Catalyst)."""
    if key_cols is None:
        key_cols = detect_key_fields(test)
    if not key_cols:
        return test.limit(0)
    keys = list(key_cols)
    train_keys = train.select(*keys).dropDuplicates(keys)
    return test.join(train_keys, keys, "left_semi")


def _token_set(col):
    """Whitespace token set (``mcp_server.py:667-668`` splits on
    whitespace)."""
    return F.array_distinct(
        F.filter(F.split(F.lower(F.coalesce(col, F.lit(""))), r"\s+"),
                 lambda t: t != "")
    )


def _first_match(pairs: DataFrame) -> DataFrame:
    """Keep one train match per test row: the lowest train id, a
    deterministic stand-in for the reference's first-in-order match."""
    w = Window.partitionBy("test_id").orderBy("train_id")
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def near_leakage_pairs(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    train_id: str,
    test_id: str,
    threshold: float = 0.9,
    max_train: int = 5000,
    max_test: int = 500,
) -> DataFrame:
    """Near-duplicate leakage: token-set Jaccard in [threshold, 1.0)
    (``mcp_server.py:680-684`` — exact matches are excluded, they belong
    to the exact check). Caps preserved as config; at scale switch to
    ``dedup.near_duplicate_pairs_lsh`` over the two sides.

    Returns (test_id, train_id, sim), one train match per test row
    (see :func:`_first_match`).
    """
    from datacheck_spark.dedup import jaccard

    tr = (
        train.select(
            F.col(train_id).cast("string").alias("train_id"),
            _token_set(F.col(text_col)).alias("tr_toks"),
        )
        .orderBy("train_id")
        .limit(max_train)
    )
    te = (
        test.select(
            F.col(test_id).cast("string").alias("test_id"),
            _token_set(F.col(text_col)).alias("te_toks"),
        )
        .orderBy("test_id")
        .limit(max_test)
    )
    pairs = (
        te.crossJoin(tr)
        .select(
            "test_id",
            "train_id",
            jaccard(F.col("te_toks"), F.col("tr_toks")).alias("sim"),
        )
        .where((F.col("sim") >= threshold) & (F.col("sim") < 1.0))
    )
    return _first_match(pairs)


def near_leakage_pairs_lsh(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    train_id: str,
    test_id: str,
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Banded MinHash twin of :func:`near_leakage_pairs` — the uncapped
    scale path: one (band, bucket) exchange of slim band keys
    (``dedup.minhash_bands``, the signatures ``near_duplicate_pairs_lsh``
    uses) instead of the train×test cross join, candidates restricted
    to cross-side pairs, then the token sets re-attached per candidate
    for the SAME exact token-set Jaccard verification in
    [threshold, 1.0). Ids are the per-side row keys, so each side's ids
    should be unique.

    With 16 bands × 4 rows/band the probability that a sim≥0.9 pair
    shares no band is (1 - 0.9^4)^16 ≈ 1e-8, so the output matches the
    exact path on any realistic input (the contract query's oracle IS
    the exact-pair SQL). Returns (test_id, train_id, sim).
    """
    from datacheck_spark.dedup import jaccard, minhash_bands

    def tokens(df: DataFrame, id_col: str) -> DataFrame:
        return df.select(
            F.col(id_col).cast("string").alias("__id"),
            _token_set(F.col(text_col)).alias("__toks"),
        ).where(F.size("__toks") > 0)

    def band_keys(toks: DataFrame, id_name: str) -> DataFrame:
        hashed = toks.select(
            "__id", F.transform("__toks", lambda t: F.xxhash64(t)).alias("__gh")
        )
        return minhash_bands(hashed, num_hashes, bands).select(
            "band", "bucket", F.col("__id").alias(id_name)
        )

    te = tokens(test, test_id)
    tr = tokens(train, train_id)
    candidates = (
        band_keys(te, "test_id")
        .join(band_keys(tr, "train_id"), ["band", "bucket"])
        .select("test_id", "train_id")
        .dropDuplicates(["test_id", "train_id"])
    )
    pairs = (
        candidates.join(
            te.select(F.col("__id").alias("test_id"), F.col("__toks").alias("te_toks")),
            "test_id",
        )
        .join(
            tr.select(F.col("__id").alias("train_id"), F.col("__toks").alias("tr_toks")),
            "train_id",
        )
        .select(
            "test_id",
            "train_id",
            jaccard(F.col("te_toks"), F.col("tr_toks")).alias("sim"),
        )
        .where((F.col("sim") >= threshold) & (F.col("sim") < 1.0))
    )
    return _first_match(pairs)


def check_leakage(
    train: DataFrame,
    test: DataFrame,
    key_cols: Optional[Sequence[str]] = None,
    text_col: Optional[str] = None,
    train_id: Optional[str] = None,
    test_id: Optional[str] = None,
    near_threshold: float = 0.9,
) -> Dict[str, Any]:
    """Full leakage report mirroring the reference response shape:
    exact/near counts + rates."""
    n_test = test.count()
    exact = exact_leakage(train, test, key_cols)
    n_exact = exact.count()
    out: Dict[str, Any] = {
        "train_count": train.count(),
        "test_count": n_test,
        "exact_matches": n_exact,
        "exact_rate": round(n_exact / n_test, 6) if n_test else 0.0,
    }
    if text_col and train_id and test_id:
        near = near_leakage_pairs(
            train, test, text_col, train_id, test_id, near_threshold
        )
        n_near = near.count()
        out["near_matches"] = n_near
        out["near_rate"] = round(n_near / n_test, 6) if n_test else 0.0
    return out
