"""Driver-contract queries: each SURVEY.md §2 operator exercised over the
driver's parquet tables with a DuckDB-oracle twin.

Conventions (the driver compares row-count + schema + order-insensitive
value-hash at sf0.01):

- every computed column is aliased identically in Spark and SQL;
- floating outputs are rounded (4-6 dp) on BOTH sides so engine-order
  float noise cannot flip the hash;
- sums/counts are cast to bigint on both sides (DuckDB sum() returns
  HUGEINT otherwise).

Regex notes: all patterns used here are simultaneously valid Java regex
(Spark ``rlike``/``regexp_*``) and RE2 (DuckDB); CJK ranges are written
with literal unicode endpoints (``[一-鿿]``) because Java's ``\\uXXXX``
class syntax is not RE2's.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datacheck_spark.rules import text as T

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: Dict[str, QueryFn] = {}
_ORACLES: Dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# Golden-value oracles: six queries are deterministic (seeded
# xxhash64 signatures, committed media bytes, fixed k-means seed) but
# not re-expressible in DuckDB SQL. Their expected outputs are
# committed as single-file parquet under .contract_cache/golden/
# (regenerate with ``python tools/make_goldens.py`` after an
# intentional change), and the oracle is simply DuckDB reading that
# file — giving them the same rows+schema+value-hash check as every
# SQL oracle. Pinned to the correctness gate's sf0.01 inputs
# (media_features is sf-independent); tools/check_contract.py treats
# them as rows-only at any other scale factor.
#: fixture caches live in the checkout this module belongs to
CONTRACT_CACHE = Path(__file__).resolve().parent.parent / ".contract_cache"
GOLDEN_DIR = str(CONTRACT_CACHE / "golden")
GOLDEN_PINNED_SF = "sf0.01"
GOLDEN_QUERIES = (
    "minhash_near_dup_docs",
    "simhash_docs",
    "ivf_topk_embeddings",
    "media_features",
    "media_resize",
    "video_frames_media",
)


def _golden(name: str) -> str:
    return f"SELECT * FROM '{GOLDEN_DIR}/{name}.parquet'"


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --- §2.2 row-level rules over documents ----------------------------------

_PII_SQL = (
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    "|1[3-9][0-9]{9}"
    "|\\+[0-9]{1,3}[-.\\s]?[0-9]{4,14}"
    "|[0-9]{17}[0-9Xx]"
)


@_q(
    "rules_docs",
    f"""
    SELECT doc_id,
           (text IS NULL OR length(trim(text)) > 0)   AS non_empty,
           (text IS NULL OR length(text) BETWEEN 1 AND 100000) AS length_ok,
           (text IS NULL OR NOT regexp_matches(text, '{_PII_SQL}')) AS pii_clean
    FROM documents ORDER BY doc_id
    """,
)
def rules_docs(spark, sf_dir):
    """Fused row-level rule verdicts (SURVEY §2.2 ops 9, 10, 13) as one
    projection over documents — per-row booleans oracle-checked."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return df.select(
        "doc_id",
        (c.isNull() | (F.length(F.trim(c)) > 0)).alias("non_empty"),
        (c.isNull() | F.length(c).between(1, 100000)).alias("length_ok"),
        T.pii_clean(c).alias("pii_clean"),
    ).orderBy("doc_id")


@_q(
    "rule_summary_docs",
    f"""
    SELECT count(*)::BIGINT AS total,
           sum(CASE WHEN text IS NOT NULL AND length(trim(text)) = 0 THEN 1 ELSE 0 END)::BIGINT AS blank_count,
           sum(CASE WHEN text IS NOT NULL AND regexp_matches(text, '{_PII_SQL}') THEN 1 ELSE 0 END)::BIGINT AS pii_count
    FROM documents
    """,
)
def rule_summary_docs(spark, sf_dir):
    """Per-rule failure counts in one agg (SURVEY §2.5 op 29)."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((c.isNotNull() & (F.length(F.trim(c)) == 0)).cast("long")).alias(
            "blank_count"
        ),
        F.sum((~T.pii_clean(c)).cast("long")).alias("pii_count"),
    )


# --- §2.3 YAML check types over events / customer -------------------------


@_q(
    "config_checks_events",
    """
    SELECT event_id,
           (event_type IS NOT NULL AND event_type IN ('click','view','purchase','signup','logout','login','error','scroll'))
               AS enum_ok,
           (value IS NULL OR (TRY_CAST(value AS DOUBLE) IS NOT NULL AND value >= 0 AND value <= 1e6))
               AS range_ok,
           (props IS NOT NULL AND length(trim(props)) > 0) AS props_non_empty
    FROM events ORDER BY event_id
    """,
)
def config_checks_events(spark, sf_dir):
    """YAML-config check types compiled to Columns (SURVEY §2.3):
    enum, number_range, non_empty."""
    df = _t(spark, sf_dir, "events")
    et, v, p = F.col("event_type"), F.col("value"), F.col("props")
    allowed = [
        "click", "view", "purchase", "signup", "logout", "login", "error", "scroll",
    ]
    return df.select(
        "event_id",
        (et.isNotNull() & et.isin(allowed)).alias("enum_ok"),
        (v.isNull() | ((v >= 0) & (v <= 1e6))).alias("range_ok"),
        (p.isNotNull() & (F.length(F.trim(p)) > 0)).alias("props_non_empty"),
    ).orderBy("event_id")


# --- §2.5 dataset-level ops -----------------------------------------------


@_q(
    "distribution_lineitem",
    """
    SELECT count(*)::BIGINT                       AS total,
           min(l_quantity)                        AS qty_min,
           max(l_quantity)                        AS qty_max,
           round(avg(l_quantity), 4)              AS qty_avg,
           min(l_extendedprice)                   AS price_min,
           max(l_extendedprice)                   AS price_max,
           round(avg(l_extendedprice), 4)         AS price_avg,
           sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS qty_nulls
    FROM lineitem
    """,
)
def distribution_lineitem(spark, sf_dir):
    """Distribution stats pass (SURVEY §2.5 op 27) — single fused agg."""
    df = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.min(q).alias("qty_min"),
        F.max(q).alias("qty_max"),
        F.round(F.avg(q), 4).alias("qty_avg"),
        F.min(p).alias("price_min"),
        F.max(p).alias("price_max"),
        F.round(F.avg(p), 4).alias("price_avg"),
        F.sum(q.isNull().cast("long")).alias("qty_nulls"),
    )


@_q(
    "string_stats_docs",
    """
    SELECT count(*)::BIGINT AS total,
           sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_count,
           min(length(text)) AS len_min,
           max(length(text)) AS len_max,
           round(avg(length(text)), 4) AS len_avg,
           count(DISTINCT text)::BIGINT AS unique_count
    FROM documents
    """,
)
def string_stats_docs(spark, sf_dir):
    """String-field distribution stats (op 27, string branch)."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(c.isNull().cast("long")).alias("null_count"),
        F.min(F.length(c)).alias("len_min"),
        F.max(F.length(c)).alias("len_max"),
        F.round(F.avg(F.length(c)), 4).alias("len_avg"),
        F.countDistinct(c).alias("unique_count"),
    )


@_q(
    "topk_event_types",
    """
    SELECT event_type, count(*)::BIGINT AS cnt
    FROM events GROUP BY event_type
    ORDER BY cnt DESC, event_type LIMIT 10
    """,
)
def topk_event_types(spark, sf_dir):
    """Top-10 value histogram (op 27 value_distribution /
    ``Counter.most_common``), deterministic tie-break."""
    df = _t(spark, sf_dir, "events")
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("event_type"))
        .limit(10)
    )


@_q(
    "dup_groups_orders",
    """
    SELECT o_custkey, o_orderdate, count(*)::BIGINT AS dup_count
    FROM orders GROUP BY o_custkey, o_orderdate
    HAVING count(*) > 1
    ORDER BY o_custkey, o_orderdate
    """,
)
def dup_groups_orders(spark, sf_dir):
    """Exact duplicate groups (op 25) on a natural key."""
    df = _t(spark, sf_dir, "orders")
    return (
        df.groupBy("o_custkey", "o_orderdate")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
        .orderBy("o_custkey", "o_orderdate")
    )


@_q(
    "uniqueness_lineitem",
    """
    SELECT count(*)::BIGINT AS duplicate_key_count FROM (
      SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
    )
    """,
)
def uniqueness_lineitem(spark, sf_dir):
    """Uniqueness check on a composite key (north_rule uniqueness on
    (conv_id, turn_idx); here (l_orderkey, l_linenumber))."""
    from datacheck_spark.dedup import duplicate_key_rows

    df = _t(spark, sf_dir, "lineitem")
    dups = duplicate_key_rows(df, ["l_orderkey", "l_linenumber"])
    return dups.agg(F.count(F.lit(1)).alias("duplicate_key_count"))


@_q(
    "exact_dedup_docs",
    """
    SELECT count(*)::BIGINT AS input_rows,
           count(DISTINCT md5(text))::BIGINT AS distinct_docs
    FROM documents
    """,
)
def exact_dedup_docs(spark, sf_dir):
    """Exact dedup cardinality by content hash (ops 25/35; training-data
    exact dedup)."""
    df = _t(spark, sf_dir, "documents")
    return df.agg(
        F.count(F.lit(1)).alias("input_rows"),
        F.countDistinct(F.md5("text")).alias("distinct_docs"),
    )


# --- §2.6 anomaly detection ----------------------------------------------


@_q(
    "anomaly_iqr_events",
    """
    WITH s AS (
      SELECT quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events
    )
    SELECT round(s.q1, 4) AS q1,
           round(s.q3, 4) AS q3,
           round(s.q3 - s.q1, 4) AS iqr,
           round(s.q1 - 1.5 * (s.q3 - s.q1), 4) AS lower_bound,
           round(s.q3 + 1.5 * (s.q3 - s.q1), 4) AS upper_bound,
           (SELECT count(*) FROM events, s
             WHERE value < s.q1 - 1.5 * (s.q3 - s.q1)
                OR value > s.q3 + 1.5 * (s.q3 - s.q1))::BIGINT AS outlier_count
    FROM s
    """,
)
def anomaly_iqr_events(spark, sf_dir):
    """IQR outliers on events.value (ops 31/33): exact linear-interp
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``),
    broadcast-scalar bounds filter."""
    from datacheck_spark.anomaly import compute_stats

    df = _t(spark, sf_dir, "events")
    st = compute_stats(df, "value")
    lower = st["q1"] - 1.5 * st["iqr"]
    upper = st["q3"] + 1.5 * st["iqr"]
    v = F.col("value").cast("double")
    return df.agg(
        F.round(F.lit(st["q1"]), 4).alias("q1"),
        F.round(F.lit(st["q3"]), 4).alias("q3"),
        F.round(F.lit(st["iqr"]), 4).alias("iqr"),
        F.round(F.lit(lower), 4).alias("lower_bound"),
        F.round(F.lit(upper), 4).alias("upper_bound"),
        F.sum(((v < lower) | (v > upper)).cast("long")).alias("outlier_count"),
    )


@_q(
    "anomaly_zscore_events",
    """
    WITH s AS (
      SELECT avg(value) AS mu, stddev_pop(value) AS sigma FROM events
    )
    SELECT round(s.mu, 4) AS mean_value,
           round(s.sigma, 4) AS std_value,
           (SELECT count(*) FROM events, s
             WHERE abs(value - s.mu) / s.sigma > 3.0)::BIGINT AS outlier_count
    FROM s
    """,
)
def anomaly_zscore_events(spark, sf_dir):
    """Z-score outliers (op 32) with population std (reference /n)."""
    from datacheck_spark.anomaly import compute_stats

    df = _t(spark, sf_dir, "events")
    st = compute_stats(df, "value")
    v = F.col("value").cast("double")
    return df.agg(
        F.round(F.lit(st["mean"]), 4).alias("mean_value"),
        F.round(F.lit(st["std"]), 4).alias("std_value"),
        F.sum(
            (F.abs(v - F.lit(st["mean"])) / F.lit(st["std"]) > 3.0).cast("long")
        ).alias("outlier_count"),
    )


@_q(
    "length_anomaly_docs",
    """
    WITH s AS (
      SELECT quantile_cont(length(text), 0.25) AS q1,
             quantile_cont(length(text), 0.75) AS q3
      FROM documents
    )
    SELECT d.doc_id
    FROM documents d, s
    WHERE length(d.text) < s.q1 - 1.5 * (s.q3 - s.q1)
       OR length(d.text) > s.q3 + 1.5 * (s.q3 - s.q1)
    ORDER BY d.doc_id
    """,
)
def length_anomaly_docs(spark, sf_dir):
    """String-length anomaly rows (op 34 length branch) keyed by doc_id
    — the distributed replacement for index lists."""
    from datacheck_spark.anomaly import outlier_rows

    df = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("double").alias("__len")
    )
    return outlier_rows(df, "__len").select("doc_id").orderBy("doc_id")


# --- referential / leakage-shaped joins -----------------------------------


@_q(
    "referential_lineitem_orders",
    """
    SELECT count(*)::BIGINT AS orphan_rows FROM lineitem l
    WHERE l.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def referential_lineitem_orders(spark, sf_dir):
    """Referential anti-join (north_rule; SURVEY §2.8 op 40 exact path)."""
    from datacheck_spark.referential import orphan_rows as orphans

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return orphans(li, "l_orderkey", o, "o_orderkey").agg(
        F.count(F.lit(1)).alias("orphan_rows")
    )


@_q(
    "leakage_exact_events_halves",
    """
    SELECT count(*)::BIGINT AS leaked_rows FROM (
      SELECT DISTINCT e2.event_id
      FROM events e2
      JOIN events e1 ON e1.event_type = e2.event_type
                    AND e1.user_id = e2.user_id
                    AND e1.value = e2.value
      WHERE e2.event_id % 2 = 1 AND e1.event_id % 2 = 0
    )
    """,
)
def leakage_exact_events_halves(spark, sf_dir):
    """Exact train/test leakage as a semi-join (op 40): odd-id rows
    whose (event_type, user_id, value) key appears among even-id rows."""
    df = _t(spark, sf_dir, "events")
    train = df.where(F.col("event_id") % 2 == 0)
    test = df.where(F.col("event_id") % 2 == 1)
    keys = ["event_type", "user_id", "value"]
    leaked = test.join(train.select(*keys).dropDuplicates(keys), keys, "left_semi")
    return leaked.select("event_id").distinct().agg(
        F.count(F.lit(1)).alias("leaked_rows")
    )


# --- §2.8 drift / bias / coverage -----------------------------------------


@_q(
    "drift_events_halves",
    """
    WITH h AS (
      SELECT event_type, value, (event_id % 2 = 0) AS is_a FROM events
    )
    SELECT event_type,
           sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS count_a,
           sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS count_b,
           round(avg(CASE WHEN is_a THEN value END), 4) AS mean_a,
           round(avg(CASE WHEN NOT is_a THEN value END), 4) AS mean_b
    FROM h GROUP BY event_type ORDER BY event_type
    """,
)
def drift_events_halves(spark, sf_dir):
    """Reference-style drift summary deltas (op 39): per-category count
    and mean on two splits, one conditional-agg pass (no second scan)."""
    df = _t(spark, sf_dir, "events")
    is_a = (F.col("event_id") % 2) == 0
    return (
        df.groupBy("event_type")
        .agg(
            F.sum(is_a.cast("long")).alias("count_a"),
            F.sum((~is_a).cast("long")).alias("count_b"),
            F.round(F.avg(F.when(is_a, F.col("value"))), 4).alias("mean_a"),
            F.round(F.avg(F.when(~is_a, F.col("value"))), 4).alias("mean_b"),
        )
        .orderBy("event_type")
    )


@_q(
    "bias_category_customer",
    """
    SELECT c_mktsegment AS label, count(*)::BIGINT AS cnt
    FROM customer GROUP BY c_mktsegment ORDER BY cnt DESC, label
    """,
)
def bias_category_customer(spark, sf_dir):
    """Category-imbalance tally (op 41)."""
    df = _t(spark, sf_dir, "customer")
    return (
        df.groupBy(F.col("c_mktsegment").alias("label"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("label"))
    )


@_q(
    "coverage_events",
    """
    SELECT count(*)::BIGINT AS total,
           count(event_type)::BIGINT AS event_type_present,
           count(DISTINCT event_type)::BIGINT AS event_type_distinct,
           count(user_id)::BIGINT AS user_id_present,
           count(DISTINCT user_id)::BIGINT AS user_id_distinct,
           sum(CASE WHEN props IS NOT NULL AND length(trim(props)) > 0 THEN 1 ELSE 0 END)::BIGINT AS props_non_empty
    FROM events
    """,
)
def coverage_events(spark, sf_dir):
    """Field coverage analysis (op 42) in one agg."""
    df = _t(spark, sf_dir, "events")
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count("event_type").alias("event_type_present"),
        F.countDistinct("event_type").alias("event_type_distinct"),
        F.count("user_id").alias("user_id_present"),
        F.countDistinct("user_id").alias("user_id_distinct"),
        F.sum(
            (
                F.col("props").isNotNull()
                & (F.length(F.trim("props")) > 0)
            ).cast("long")
        ).alias("props_non_empty"),
    )


# --- §2.7 fixer transforms ------------------------------------------------


@_q(
    "pii_redaction",
    """
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   'mail ' || 'user' || doc_id || '@example.com id 110101199001011234 tel 13812345678 or +86-13900000000 end',
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                 '[0-9]{6}(18|19|20)[0-9]{2}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])[0-9]{3}[0-9Xx]', '[ID]', 'g'),
               '1[3-9][0-9]{9}', '[PHONE]', 'g'),
             '\\+[0-9]{1,3}[-.\\s]?[0-9]{4,14}', '[PHONE]', 'g') AS redacted
    FROM documents ORDER BY doc_id
    """,
)
def pii_redaction(spark, sf_dir):
    """PII redaction chain in reference order (op 38) — byte-equal
    output is the BASELINE.md per-turn text equality target."""
    df = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("mail user"),
        F.col("doc_id").cast("string"),
        F.lit(
            "@example.com id 110101199001011234 tel 13812345678 or +86-13900000000 end"
        ),
    )
    return df.select(
        "doc_id", T.redact_pii(dirty).alias("redacted")
    ).orderBy("doc_id")


@_q(
    "fix_trim_remove_empty",
    """
    SELECT count(*)::BIGINT AS kept_rows,
           sum(CASE WHEN trim(text) <> text THEN 1 ELSE 0 END)::BIGINT AS would_trim
    FROM documents
    WHERE text IS NOT NULL AND text <> ''
    """,
)
def fix_trim_remove_empty(spark, sf_dir):
    """Trim + remove-empty accounting (ops 36/37)."""
    df = _t(spark, sf_dir, "documents")
    kept = df.where(F.col("text").isNotNull() & (F.col("text") != ""))
    return kept.agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.sum((F.trim("text") != F.col("text")).cast("long")).alias(
            "would_trim"
        ),
    )


# --- §2.9 contribution weighting ------------------------------------------


@_q(
    "contribution_weights",
    """
    SELECT contrib_type,
           count(*)::BIGINT AS n,
           round(sum(weight), 2)::DOUBLE AS total_weight
    FROM (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'corner_case'
                  WHEN o_orderpriority = '2-HIGH' THEN 'peer_review'
                  ELSE 'review' END AS contrib_type,
             round(
               (CASE WHEN o_orderpriority = '1-URGENT' THEN 8.0
                     WHEN o_orderpriority = '2-HIGH' THEN 3.0
                     ELSE 1.0 END)
               * (CASE WHEN o_totalprice > 100000 THEN 1.1 ELSE 1.0 END)
               * (CASE WHEN date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) <= 1 THEN 1.5
                       WHEN date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) <= 7 THEN 1.2
                       WHEN date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) <= 30 THEN 1.0
                       ELSE 0.9 END)
             , 2) AS weight
      FROM orders
    ) GROUP BY contrib_type ORDER BY contrib_type
    """,
)
def contribution_weights(spark, sf_dir):
    """Contribution weight formula weight = base × quality × time
    (ops 43/44, ``contribute.py:156-277``) as pure column arithmetic
    over orders (type/base from priority, quality from price, time
    multiplier from day offsets)."""
    df = _t(spark, sf_dir, "orders")
    pr = F.col("o_orderpriority")
    contrib_type = (
        F.when(pr == "1-URGENT", "corner_case")
        .when(pr == "2-HIGH", "peer_review")
        .otherwise("review")
    )
    base = (
        F.when(pr == "1-URGENT", 8.0).when(pr == "2-HIGH", 3.0).otherwise(1.0)
    )
    quality = F.when(F.col("o_totalprice") > 100000, 1.1).otherwise(1.0)
    days = F.datediff(F.col("o_orderdate"), F.to_timestamp(F.lit("1995-01-01")))
    time_mult = (
        F.when(days <= 1, 1.5)
        .when(days <= 7, 1.2)
        .when(days <= 30, 1.0)
        .otherwise(0.9)
    )
    weight = F.round(base * quality * time_mult, 2)
    return (
        df.select(contrib_type.alias("contrib_type"), weight.alias("weight"))
        .groupBy("contrib_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("weight"), 2).alias("total_weight"),
        )
        .orderBy("contrib_type")
    )


# --- training-data pipeline ops (documents / embeddings) ------------------


@_q(
    "token_count_docs",
    """
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tokens
    FROM documents ORDER BY doc_id
    """,
)
def token_count_docs(spark, sf_dir):
    """Whitespace token counting (training-data text analysis)."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    n = F.when(
        c.isNull() | (F.trim(c) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(c), r"\s+")))
    return df.select("doc_id", n.cast("long").alias("n_tokens")).orderBy(
        "doc_id"
    )


@_q(
    "lang_id_docs",
    """
    SELECT doc_id,
           CASE WHEN length(text) = 0 OR text IS NULL THEN 'unknown'
                WHEN (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))::DOUBLE / length(text) > 0.3 THEN 'zh'
                WHEN (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE / length(text) > 0.3 THEN 'en'
                ELSE 'other' END AS lang_guess
    FROM documents ORDER BY doc_id
    """,
)
def lang_id_docs(spark, sf_dir):
    """Language-ID heuristic (op 41 language branch / training-data
    lang-id): CJK vs latin character share with 0.3 cutoffs
    (``mcp_server.py:756-775``)."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    ln = F.length(c)
    cjk = ln - F.length(F.regexp_replace(c, "[一-鿿]", ""))
    latin = ln - F.length(F.regexp_replace(c, "[a-zA-Z]", ""))
    guess = (
        F.when(c.isNull() | (ln == 0), "unknown")
        .when(cjk.cast("double") / ln > 0.3, "zh")
        .when(latin.cast("double") / ln > 0.3, "en")
        .otherwise("other")
    )
    return df.select("doc_id", guess.alias("lang_guess")).orderBy("doc_id")


@_q(
    "quality_score_docs",
    """
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
           round(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE / length(text), 4) AS punct_ratio,
           round(length(regexp_replace(text, '[^ ]', '', 'g'))::DOUBLE / length(text), 4) AS space_ratio
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ORDER BY doc_id
    """,
)
def quality_score_docs(spark, sf_dir):
    """Text quality scoring features (training-data pipeline): length,
    token count, punctuation and whitespace ratios."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    ln = F.length(c)
    # the replace keeps only the class chars, so its length IS the count
    punct = F.length(F.regexp_replace(c, r"[^.,!?;:]", ""))
    spaces = F.length(F.regexp_replace(c, "[^ ]", ""))
    return (
        df.where(c.isNotNull() & (ln > 0))
        .select(
            "doc_id",
            ln.cast("long").alias("n_chars"),
            F.size(F.split(F.trim(c), r"\s+")).cast("long").alias("n_tokens"),
            F.round(punct.cast("double") / ln, 4).alias("punct_ratio"),
            F.round(spaces.cast("double") / ln, 4).alias("space_ratio"),
        )
        .orderBy("doc_id")
    )


@_q(
    "fingerprint_docs",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def fingerprint_docs(spark, sf_dir):
    """Document fingerprinting: whitespace-normalized lowercase MD5
    (training-data pipeline; identical digests across engines)."""
    df = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return df.select("doc_id", F.md5(norm).alias("fingerprint")).orderBy(
        "doc_id"
    )


@_q(
    "ngram_jaccard_docs",
    """
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, length(lower(trim(text))) - 2),
               i -> substr(lower(trim(text)), i, 3))) AS grams
      FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id::VARCHAR AS id_a, b.doc_id::VARCHAR AS id_b,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                 (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS sim
    FROM g a, g b
    WHERE a.doc_id::VARCHAR < b.doc_id::VARCHAR
      AND len(list_intersect(a.grams, b.grams))::DOUBLE /
          (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_docs(spark, sf_dir):
    """Char-3-gram Jaccard near-dup pairs over a deterministic 200-doc
    subset (op 26 exact path; O(n²) under the reference's size cap).
    Oracle: DuckDB list comprehension n-grams + intersect/union sizes.
    """
    from datacheck_spark.dedup import near_duplicate_pairs_exact

    df = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = near_duplicate_pairs_exact(df, ["text"], "doc_id", threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    ).orderBy("id_a", "id_b")


@_q(
    "leakage_near_lsh_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tk
      FROM documents
    ),
    pairs AS (
      SELECT te.doc_id::VARCHAR AS test_id, tr.doc_id::VARCHAR AS train_id,
             len(list_intersect(te.tk, tr.tk))::DOUBLE /
               (len(te.tk) + len(tr.tk) - len(list_intersect(te.tk, tr.tk)))
               AS rawsim
      FROM toks te, toks tr
      WHERE te.doc_id % 2 = 1 AND tr.doc_id % 2 = 0
        AND len(te.tk) > 0 AND len(tr.tk) > 0
    ),
    filt AS (
      SELECT test_id, train_id, round(rawsim, 6) AS sim,
             row_number() OVER (PARTITION BY test_id
                                ORDER BY train_id) AS rn
      FROM pairs WHERE rawsim >= 0.9 AND rawsim < 1.0
    )
    SELECT test_id, train_id, sim FROM filt WHERE rn = 1
    ORDER BY test_id
    """,
)
def leakage_near_lsh_docs(spark, sf_dir):
    """Near-leakage SCALE path (op 40 LSH variant): banded MinHash over
    the train/test union, cross-side candidates only, exact token-set
    Jaccard verification — checked against the uncapped exact-pair SQL
    as truth. A value-level match here IS a measured recall of 1.0 for
    the banding (16 bands × 4 rows: miss probability ~1e-8 at
    sim≥0.9)."""
    from datacheck_spark.leakage import near_leakage_pairs_lsh

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    pairs = near_leakage_pairs_lsh(
        train, test, "text", "doc_id", "doc_id", threshold=0.9
    )
    return pairs.select(
        "test_id", "train_id", F.round("sim", 6).alias("sim")
    ).orderBy("test_id")


@_q("minhash_near_dup_docs", _golden("minhash_near_dup_docs"))
def minhash_near_dup_docs(spark, sf_dir):
    """MinHash+LSH near-dup candidates (scale path of op 26; banding +
    exact Jaccard verification). Rows-only check (hash-seed specific)."""
    from datacheck_spark.dedup import near_duplicate_pairs_lsh

    df = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    return near_duplicate_pairs_lsh(
        df, ["text"], "doc_id", threshold=0.5
    ).orderBy("id_a", "id_b")


@_q("simhash_docs", _golden("simhash_docs"))
def simhash_docs(spark, sf_dir):
    """SimHash near-dup pairs (training-data dedup variant). Rows-only
    (xxhash64-specific signatures); max_hamming=3 keeps the 4×16-bit
    banding pigeonhole-COMPLETE — exactness proven in
    tests/test_ann_recall.py::TestSimHashExactness."""
    from datacheck_spark.dedup import simhash_near_duplicates

    df = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    return simhash_near_duplicates(df, "text", "doc_id", max_hamming=3)


@_q(
    "embedding_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
         scored AS (
           SELECT q.query_id, c.vec_id AS neighbor_id,
                  list_cosine_similarity(q.qv, c.embedding) AS cos,
                  row_number() OVER (PARTITION BY q.query_id
                                     ORDER BY list_cosine_similarity(q.qv, c.embedding) DESC, c.vec_id) AS rank
           FROM q, c
         )
    SELECT query_id, rank::BIGINT AS rank, neighbor_id
    FROM scored WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (training-data ANN
    baseline): broadcast the 5 query vectors against all candidates,
    window top-5 per query. Ids-only output so float noise cannot flip
    the hash (ordering ties broken by neighbor id)."""
    from pyspark.sql import Window
    from datacheck_spark.dedup import cosine_similarity

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("qv"), F.col("cv")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
        .orderBy("query_id", "rank")
    )


@_q(
    "ks_events_halves",
    """
    WITH tagged AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS b
      FROM events WHERE value IS NOT NULL
    ), counts AS (
      SELECT v, sum(a) AS ca, sum(b) AS cb FROM tagged GROUP BY v
    ), totals AS (
      SELECT sum(ca)::DOUBLE AS na, sum(cb)::DOUBLE AS nb FROM counts
    ), steps AS (
      SELECT sum(ca) OVER (ORDER BY v) / (SELECT na FROM totals) AS fa,
             sum(cb) OVER (ORDER BY v) / (SELECT nb FROM totals) AS fb
      FROM counts
    )
    SELECT round(max(abs(fa - fb)), 6) AS ks FROM steps
    """,
)
def ks_events_halves(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov distance (north_star drift
    upgrade): distributed groupBy-on-value + cumulative window."""
    from datacheck_spark.drift import ks_statistic

    df = _t(spark, sf_dir, "events")
    a = df.where(F.col("event_id") % 2 == 0)
    b = df.where(F.col("event_id") % 2 == 1)
    ks = round(ks_statistic(a, b, "value"), 6)
    return spark.createDataFrame([(ks,)], "ks double")


@_q(
    "psi_events_halves",
    """
    WITH a AS (SELECT value AS v FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
         b AS (SELECT value AS v FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
         e AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q FROM a),
         abin AS (SELECT count(*)::DOUBLE / (SELECT count(*) FROM a) AS p,
                         bin FROM (
                    SELECT CASE WHEN v <= q[1] THEN 0 WHEN v <= q[2] THEN 1
                                WHEN v <= q[3] THEN 2 WHEN v <= q[4] THEN 3
                                WHEN v <= q[5] THEN 4 WHEN v <= q[6] THEN 5
                                WHEN v <= q[7] THEN 6 WHEN v <= q[8] THEN 7
                                WHEN v <= q[9] THEN 8 ELSE 9 END AS bin
                    FROM a, e) GROUP BY bin),
         bbin AS (SELECT count(*)::DOUBLE / (SELECT count(*) FROM b) AS p,
                         bin FROM (
                    SELECT CASE WHEN v <= q[1] THEN 0 WHEN v <= q[2] THEN 1
                                WHEN v <= q[3] THEN 2 WHEN v <= q[4] THEN 3
                                WHEN v <= q[5] THEN 4 WHEN v <= q[6] THEN 5
                                WHEN v <= q[7] THEN 6 WHEN v <= q[8] THEN 7
                                WHEN v <= q[9] THEN 8 ELSE 9 END AS bin
                    FROM b, e) GROUP BY bin),
         bins AS (SELECT i AS bin FROM range(10) t(i))
    SELECT round(sum(
             (greatest(coalesce(abin.p, 0), 1e-6) - greatest(coalesce(bbin.p, 0), 1e-6))
             * ln(greatest(coalesce(abin.p, 0), 1e-6) / greatest(coalesce(bbin.p, 0), 1e-6))
           ), 6) AS psi
    FROM bins LEFT JOIN abin USING (bin) LEFT JOIN bbin USING (bin)
    """,
)
def psi_events_halves(spark, sf_dir):
    """Population Stability Index over exact decile bins of side A
    (north_star drift upgrade)."""
    from datacheck_spark.drift import psi

    df = _t(spark, sf_dir, "events")
    a = df.where(F.col("event_id") % 2 == 0)
    b = df.where(F.col("event_id") % 2 == 1)
    val = round(psi(a, b, "value", bins=10, exact_edges=True), 6)
    return spark.createDataFrame([(val,)], "psi double")


@_q(
    "bpeish_token_count_docs",
    """
    SELECT doc_id,
           CASE WHEN text IS NULL THEN 0 ELSE CEIL(
             length(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> length(x) > 0))::DOUBLE * 1.3
             + length(regexp_replace(text, '[^0-9]', '', 'g'))
             + length(list_filter(regexp_split_to_array(text, '[A-Za-z0-9\\s]+'), x -> length(x) > 0))
           ) END::BIGINT AS n_tokens_bpe
    FROM documents ORDER BY doc_id
    """,
)
def bpeish_token_count_docs(spark, sf_dir):
    """BPE-ish token-count estimator (training-data budget planning)."""
    from datacheck_spark.textstats import bpeish_token_count

    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id", bpeish_token_count(F.col("text")).alias("n_tokens_bpe")
    ).orderBy("doc_id")


@_q("ivf_topk_embeddings", _golden("ivf_topk_embeddings"))
def ivf_topk_embeddings(spark, sf_dir):
    """IVF (hyperplane-cell) approximate top-k similarity search —
    scale path of the ANN op. Rows-only (cell seeds are engine-side)."""
    from datacheck_spark.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    c = emb.where(F.col("vec_id") >= 5)
    return ivf_topk(c, q, k=5, n_cells=10, nprobe=3).orderBy(
        "query_id", "rank"
    )


@_q("media_features", _golden("media_features"))
def media_features(spark, sf_dir):
    """Multimodal: synthetic media table with REAL PNG/BMP/JPEG/WAV/
    AVI-MJPEG payloads → Arrow-batched mapInPandas decode + feature
    extraction (pure stdlib+numpy codecs incl. the full baseline JPEG
    decoder; Pillow optional; only unknown containers take the
    declared stub path). Golden-checked (binary payloads aren't
    DuckDB-queryable); decode correctness is round-trip-proven in
    tests/test_codecs.py and metadata-vs-decoded consistency in
    tests/test_pipeline_ops.py."""
    from datacheck_spark.multimodal import extract_media_features, synthetic_media

    media = synthetic_media(spark, n=200)
    return extract_media_features(media).orderBy("media_id")


@_q("media_resize", _golden("media_resize"))
def media_resize(spark, sf_dir):
    """Multimodal resize (training-pipeline op): real nearest-neighbor
    resize of PNG/BMP payloads to 32×24 re-encoded as PNG; pixel-less
    formats honestly 'unsupported'. Payload bytes compared via
    xxhash64 so the golden stays small; pixel-level equality vs the
    numpy reference resize is proven in tests/test_codecs.py."""
    from datacheck_spark.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, n=200)
    return (
        resize_images(media, 32, 24)
        .select(
            "media_id",
            "kind",
            "resize_status",
            "width",
            "height",
            F.xxhash64("payload").alias("payload_hash"),
        )
        .orderBy("media_id")
    )


@_q("video_frames_media", _golden("video_frames_media"))
def video_frames_media(spark, sf_dir):
    """Executed video frame sampling (training-pipeline op): one frame
    per second of stream time from each AVI payload, each sampled
    MJPEG frame FULLY pixel-decoded through the pure baseline JPEG
    codec (reference has no media handling; decoder round-trip-proven
    in tests/test_codecs.py::TestJpegFullCodec)."""
    from datacheck_spark.multimodal import sample_video_frames, synthetic_media

    media = synthetic_media(spark, n=200)
    return sample_video_frames(media, every_ms=1000).orderBy(
        "media_id", "frame_idx"
    )


@_q(
    "sessionize_events",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM s
    )
    SELECT user_id, session_id::BIGINT AS session_id,
           count(*)::BIGINT AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization + per-session rollup (beyond-reference
    window op; 30-min gap on events)."""
    from datacheck_spark.sessions import session_stats

    df = _t(spark, sf_dir, "events")
    return (
        session_stats(df, "user_id", "ts", gap_minutes=30)
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "session_start",
            "session_end",
        )
        .orderBy("user_id", "session_id")
    )


@_q(
    "salted_user_rollup_events",
    """
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def salted_user_rollup_events(spark, sf_dir):
    """Per-entity rollup via the two-phase salted aggregation helper
    (north_rule skew handling) — results must equal a plain groupBy."""
    from datacheck_spark.dedup import salted_agg

    df = _t(spark, sf_dir, "events")
    out = salted_agg(
        df,
        ["user_id"],
        salt_buckets=8,
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.min("ts").alias("pmin"),
            F.max("ts").alias("pmax"),
            F.sum("value").alias("psum"),
        ],
        final_aggs=[
            F.sum("pn").alias("n_events"),
            F.min("pmin").alias("first_ts"),
            F.max("pmax").alias("last_ts"),
            F.round(F.sum("psum"), 4).alias("total_value"),
        ],
    )
    return out.orderBy("user_id")


@_q(
    "asof_join_events",
    """
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           c.event_id AS click_id,
           round(c.value, 4) AS click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
    """,
)
def asof_join_events(spark, sf_dir):
    """Backward as-of join (nearest prior click for every purchase per
    user) — union + running-last window, oracle-checked against
    DuckDB's native ASOF JOIN."""
    from datacheck_spark.joins import asof_join_backward

    df = _t(spark, sf_dir, "events")
    purchases = df.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = df.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value"
    )
    joined = asof_join_backward(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_id", "value"],
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.round("value", 4).alias("click_value"),
    ).orderBy("purchase_id")


# --- transcripts: persisted to parquet so DuckDB reads the SAME rows ------

#: cache for the deterministic synthetic transcripts (n_convs=200,
#: turns_per_conv=10, seed 42). Written once per machine by entry() /
#: the first transcript query; both the Spark queries AND the DuckDB
#: oracles read this file, so the rollup/violation logic is what gets
#: verified (VERDICT r1 next-round item 1).
TRANSCRIPTS_CACHE = str(CONTRACT_CACHE / "transcripts_200x10")


def transcripts_table(spark: SparkSession) -> DataFrame:
    """Read the transcripts fixture, generating it if absent.

    The fixture file is committed to git under a FIXED name (the
    generator is deterministic, so regeneration is byte-stable modulo
    parquet metadata), which means the DuckDB oracle can read it
    regardless of query/oracle execution order."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    if not os.path.exists(os.path.join(TRANSCRIPTS_CACHE, "_SUCCESS")):
        from datacheck_spark.transcripts import generate_transcripts

        tmp = tempfile.mkdtemp(prefix="transcripts_", dir="/tmp")
        generate_transcripts(
            spark, n_convs=200, turns_per_conv=10
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.makedirs(TRANSCRIPTS_CACHE, exist_ok=True)
        shutil.move(part, os.path.join(TRANSCRIPTS_CACHE, "data.parquet"))
        with open(os.path.join(TRANSCRIPTS_CACHE, "_SUCCESS"), "w"):
            pass
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(
        os.path.join(TRANSCRIPTS_CACHE, "data.parquet")
    )


_TRANSCRIPTS_GLOB = f"{TRANSCRIPTS_CACHE}/*.parquet"

# Python str.strip() whitespace set in RE2 syntax (DuckDB); the Spark
# twin is rules.text.PY_WHITESPACE_CLASS (Java syntax).
_WS_RE2 = (
    "[\\s\\x{001c}-\\x{001f}\\x{0085}\\x{00a0}\\x{1680}"
    "\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]"
)
# garbled control/replacement class + mojibake run, RE2 syntax (the
# Spark twin is rules.text.GARBLED_CLASS / ENCODING_ERROR, Java syntax)
_CTRL_RE2 = (
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f"
    "\\x{fffd}\\x{fffe}\\x{ffff}]"
)
_MOJIBAKE_RE2 = "[\\x{00c0}-\\x{00ff}]{3,}"


@_q(
    "conversation_stats",
    f"""
    SELECT conv_id,
           count(*)::BIGINT AS n_turns,
           min(turn_idx) AS first_turn,
           max(turn_idx) AS last_turn,
           count(DISTINCT role)::BIGINT AS n_roles
    FROM read_parquet('{_TRANSCRIPTS_GLOB}')
    GROUP BY conv_id ORDER BY conv_id
    """,
)
def conversation_stats_q(spark, sf_dir):
    """Per-conversation rollup with salted two-phase aggregation for
    hot conversations (north_rule skew handling), oracle-checked
    against a plain DuckDB GROUP BY over the same parquet."""
    from datacheck_spark.sessions import conversation_stats

    df = transcripts_table(spark)
    return (
        conversation_stats(df, salt_buckets=8)
        .select(
            "conv_id",
            F.col("n_turns").cast("long").alias("n_turns"),
            "first_turn",
            "last_turn",
            F.col("n_roles").cast("long").alias("n_roles"),
        )
        .orderBy("conv_id")
    )


@_q(
    "lang_consistency_by_source",
    """
    WITH langs AS (
      SELECT source,
             CASE WHEN text IS NULL OR length(text) = 0 THEN 'unknown'
                  WHEN (length(substr(text,1,500)) - length(regexp_replace(substr(text,1,500), '[一-鿿]', '', 'g')))::DOUBLE
                       / length(substr(text,1,500)) > 0.3 THEN 'zh'
                  WHEN (length(substr(text,1,500)) - length(regexp_replace(substr(text,1,500), '[a-zA-Z]', '', 'g')))::DOUBLE
                       / length(substr(text,1,500)) > 0.3 THEN 'en'
                  ELSE 'other' END AS lang
      FROM documents
    ), counts AS (
      SELECT source, lang, count(*)::BIGINT AS n FROM langs GROUP BY source, lang
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rank
      FROM counts
    )
    SELECT source,
           max(CASE WHEN rank = 1 THEN lang END) AS majority_lang,
           sum(n)::BIGINT AS total,
           max(CASE WHEN rank = 1 THEN n END)::BIGINT AS majority_count,
           round((sum(n) - max(CASE WHEN rank = 1 THEN n END))::DOUBLE / sum(n), 6) AS minority_share
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def lang_consistency_by_source(spark, sf_dir):
    """Grouped language-consistency analysis (per-source majority
    language + minority share) — the grouped analogue of the
    language_consistency rule for conversations/sources."""
    from datacheck_spark.bias import group_language_consistency

    df = _t(spark, sf_dir, "documents")
    return group_language_consistency(df, "source", "text").orderBy("source")


@_q(
    "transcript_violations",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}'))
    SELECT conv_id, turn_idx, 'key_present' AS rule_id,
           'conv_id/turn_idx present' AS rule_name,
           'error' AS severity, NULL::VARCHAR AS observed
    FROM t WHERE NOT (conv_id IS NOT NULL AND turn_idx IS NOT NULL)
    UNION ALL
    SELECT conv_id, turn_idx, 'turn_idx_nonneg', 'turn_idx >= 0',
           'error', turn_idx::VARCHAR
    FROM t WHERE NOT (turn_idx IS NULL OR turn_idx >= 0)
    UNION ALL
    SELECT conv_id, turn_idx, 'role_valid', 'role in vocabulary',
           'error', role
    FROM t WHERE NOT (role IS NOT NULL AND role IN ('user','assistant','system','tool'))
    UNION ALL
    SELECT conv_id, turn_idx, 'text_non_empty', 'text non-empty',
           'error', substr(text, 1, 80)
    FROM t WHERE NOT (text IS NOT NULL
                      AND length(regexp_replace(text, '^{_WS_RE2}+|{_WS_RE2}+$', '', 'g')) > 0)
    UNION ALL
    SELECT conv_id, turn_idx, 'text_length_bounds', 'text length bounds',
           'warning', length(text)::VARCHAR
    FROM t WHERE NOT (text IS NULL OR length(text) BETWEEN 1 AND 100000)
    UNION ALL
    SELECT conv_id, turn_idx, 'pii_detection', 'PII in text',
           'warning', substr(text, 1, 80)
    FROM t WHERE NOT (text IS NULL OR NOT regexp_matches(text,
        '(?:[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}})|(?:1[3-9][0-9]{{9}})|(?:\\+[0-9]{{1,3}}[-.\\s]?[0-9]{{4,14}})|(?:[0-9]{{17}}[0-9Xx])'))
    UNION ALL
    SELECT conv_id, turn_idx, 'garbled_text', 'garbled text',
           'warning', substr(text, 1, 80)
    FROM t WHERE NOT (text IS NULL OR length(text) < 5 OR NOT (
        (length(text) - length(regexp_replace(text, '{_CTRL_RE2}', '', 'g')) > 0
         AND (length(text) - length(regexp_replace(text, '{_CTRL_RE2}', '', 'g')))::DOUBLE
             / length(text) > 0.01)
        OR regexp_matches(text, '{_MOJIBAKE_RE2}')))
    ORDER BY conv_id, turn_idx, rule_id
    """,
)
def transcript_violations(spark, sf_dir):
    """Flagship: fused transcript rule suite violation rows
    (conv_id, turn_idx, rule_id, rule_name, severity, observed) under
    stable turn ordering — oracle-checked rule-by-rule against a DuckDB
    UNION ALL reimplementation over the same persisted parquet
    (repetitive_text excluded: per-row Counter logic is not
    SQL-expressible)."""
    from datacheck_spark.transcripts import TranscriptChecker

    df = transcripts_table(spark)
    return TranscriptChecker(include_repetitive=False).violations(df)


# --- round-2 oracle widening (VERDICT r1 next-round item 2) ---------------
# Each query below gives a previously pytest-only SURVEY §2 operator its
# own DuckDB-oracle contract row by exercising the real package
# operator in Spark and reimplementing the semantics in ANSI SQL.


@_q(
    "schema_inference_docs",
    """
    WITH s AS (SELECT count(*) AS total FROM documents)
    SELECT * FROM (
      SELECT 'doc_id' AS field, 'integer' AS itype,
             (count(doc_id) >= 0.95 * (SELECT total FROM s)) AS required,
             (count(doc_id) < (SELECT total FROM s)) AS nullable,
             min(doc_id)::DOUBLE AS lo, max(doc_id)::DOUBLE AS hi,
             CAST(NULL AS BIGINT) AS avg_len,
             CASE WHEN count(DISTINCT doc_id) BETWEEN 1 AND 10
                  THEN array_to_string(list_sort(list(DISTINCT doc_id)), ',')
                  END AS enum_vals
      FROM documents
      UNION ALL
      SELECT 'n_chars', 'integer',
             count(n_chars) >= 0.95 * (SELECT total FROM s),
             count(n_chars) < (SELECT total FROM s),
             min(n_chars)::DOUBLE, max(n_chars)::DOUBLE, NULL,
             CASE WHEN count(DISTINCT n_chars) BETWEEN 1 AND 10
                  THEN array_to_string(list_sort(list(DISTINCT n_chars)), ',')
                  END
      FROM documents
      UNION ALL
      SELECT 'text', 'string',
             count(text) >= 0.95 * (SELECT total FROM s),
             count(text) < (SELECT total FROM s),
             min(length(text))::DOUBLE, max(length(text))::DOUBLE,
             round_even(avg(length(text)), 0)::BIGINT, NULL
      FROM documents
      UNION ALL
      SELECT 'lang', 'string',
             count(lang) >= 0.95 * (SELECT total FROM s),
             count(lang) < (SELECT total FROM s),
             min(length(lang))::DOUBLE, max(length(lang))::DOUBLE,
             round_even(avg(length(lang)), 0)::BIGINT, NULL
      FROM documents
      UNION ALL
      SELECT 'source', 'string',
             count(source) >= 0.95 * (SELECT total FROM s),
             count(source) < (SELECT total FROM s),
             min(length(source))::DOUBLE, max(length(source))::DOUBLE,
             round_even(avg(length(source)), 0)::BIGINT, NULL
      FROM documents
    ) ORDER BY field
    """,
)
def schema_inference_docs(spark, sf_dir):
    """Schema inference (op 24) — the inferred per-field dict emitted
    as one row per field, every value oracle-checked (type vocabulary,
    required/nullable flags, length/value bounds, enum candidates)."""
    from datacheck_spark.stats import infer_schema

    df = _t(spark, sf_dir, "documents")
    inf = infer_schema(df)
    rows = []
    for name, fd in sorted(inf["fields"].items()):
        is_num = "min_value" in fd
        rows.append(
            (
                name,
                fd["type"],
                bool(fd.get("required", False)),
                bool(fd.get("nullable", False)),
                float(fd["min_value"] if is_num else fd["min_length"]),
                float(fd["max_value"] if is_num else fd["max_length"]),
                int(fd["avg_length"]) if "avg_length" in fd else None,
                ",".join(str(v) for v in fd["enum"]) if "enum" in fd else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "field string, itype string, required boolean, nullable boolean,"
        " lo double, hi double, avg_len long, enum_vals string",
    ).orderBy("field")


@_q(
    "distribution_compare_events",
    """
    WITH cur AS (SELECT * FROM events WHERE event_id % 2 = 0),
         ref AS (SELECT * FROM events WHERE event_id % 2 = 1),
         stats AS (
           SELECT f.field,
                  (SELECT avg(length(CASE f.field WHEN 'event_type' THEN c.event_type ELSE c.props END)) FROM cur c) AS s_avg,
                  (SELECT avg(length(CASE f.field WHEN 'event_type' THEN r.event_type ELSE r.props END)) FROM ref r) AS r_avg,
                  (SELECT count(DISTINCT CASE f.field WHEN 'event_type' THEN c.event_type ELSE c.props END)::DOUBLE
                          / count(CASE f.field WHEN 'event_type' THEN c.event_type ELSE c.props END) FROM cur c) AS s_uniq,
                  (SELECT count(DISTINCT CASE f.field WHEN 'event_type' THEN r.event_type ELSE r.props END)::DOUBLE
                          / count(CASE f.field WHEN 'event_type' THEN r.event_type ELSE r.props END) FROM ref r) AS r_uniq
           FROM (SELECT 'event_type' AS field UNION ALL SELECT 'props') f
         )
    SELECT field,
           round(s_avg, 4) AS sample_avg_len,
           round(r_avg, 4) AS reference_avg_len,
           round(abs(s_avg - r_avg) / r_avg * 100, 4) AS diff_percent,
           round(s_uniq, 6) AS sample_unique_ratio,
           round(r_uniq, 6) AS reference_unique_ratio
    FROM stats ORDER BY field
    """,
)
def distribution_compare_events(spark, sf_dir):
    """Distribution comparison (op 28): current-vs-reference halves of
    events; the string-field length / diversity comparison dict emitted
    as rows."""
    from datacheck_spark.stats import compare_distributions

    df = _t(spark, sf_dir, "events")
    cur = df.where(F.col("event_id") % 2 == 0)
    ref = df.where(F.col("event_id") % 2 == 1)
    cmp = compare_distributions(cur, ref, cols=["event_type", "props"])
    rows = []
    for name in sorted(cmp["field_comparisons"]):
        fc = cmp["field_comparisons"][name]
        lc = fc.get("length_comparison", {})
        dc = fc.get("diversity_comparison", {})
        rows.append(
            (
                name,
                round(lc["sample_avg"], 4),
                round(lc["reference_avg"], 4),
                round(lc["diff_percent"], 4),
                round(dc["sample_unique_ratio"], 6),
                round(dc["reference_unique_ratio"], 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "field string, sample_avg_len double, reference_avg_len double,"
        " diff_percent double, sample_unique_ratio double,"
        " reference_unique_ratio double",
    ).orderBy("field")


@_q(
    "format_score_events",
    """
    SELECT event_id,
           (value IS NOT NULL) AS format_ok,
           (event_id % 7) IN (0, 1, 2, 3, 4) AS score_ok
    FROM events ORDER BY event_id
    """,
)
def format_score_events(spark, sf_dir):
    """format_valid + score_valid (ops 11-12) through the REAL compiled
    ruleset: a declared number field (format_valid → null check on a
    type-matching column) and a derived score column validated against
    a scoring rubric."""
    from datacheck_spark.engine import ValidationEngine, RULE_PREFIX
    from datacheck_spark.schema import ValidationSchema, FieldSpec

    df = _t(spark, sf_dir, "events").withColumn(
        "score", F.pmod(F.col("event_id"), F.lit(7))
    )
    schema = ValidationSchema(
        fields=[FieldSpec(name="value", type="number", required=False)],
        scoring_rubric=[{"score": i} for i in range(5)],
    )
    engine = ValidationEngine(schema=schema)
    rules = [
        r
        for r in engine.compile(df)
        if r.rule_id in ("format_valid", "score_valid")
    ]
    annotated = engine.annotate(df, rules=rules)
    return annotated.select(
        "event_id",
        F.col(RULE_PREFIX + "format_valid").alias("format_ok"),
        F.col(RULE_PREFIX + "score_valid").alias("score_ok"),
    ).orderBy("event_id")


@_q(
    "compute_stats_lineitem",
    """
    SELECT 'l_quantity' AS field,
           count(l_quantity)::BIGINT AS n,
           round(avg(l_quantity), 6) AS mean,
           round(stddev_pop(l_quantity), 6) AS std,
           round(quantile_cont(l_quantity, 0.25), 6) AS q1,
           round(quantile_cont(l_quantity, 0.5), 6) AS median,
           round(quantile_cont(l_quantity, 0.75), 6) AS q3
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           count(l_extendedprice)::BIGINT,
           round(avg(l_extendedprice), 6),
           round(stddev_pop(l_extendedprice), 6),
           round(quantile_cont(l_extendedprice, 0.25), 6),
           round(quantile_cont(l_extendedprice, 0.5), 6),
           round(quantile_cont(l_extendedprice, 0.75), 6)
    FROM lineitem
    ORDER BY field
    """,
)
def compute_stats_lineitem(spark, sf_dir):
    """compute_stats (op 31) standalone: population std + exact
    linear-interpolation percentiles, one agg pass for both columns —
    oracle-checked against DuckDB stddev_pop / quantile_cont."""
    from datacheck_spark.anomaly import compute_stats_df

    df = _t(spark, sf_dir, "lineitem")
    targets = [
        ("l_quantity", F.col("l_quantity").cast("double"), "number"),
        ("l_extendedprice", F.col("l_extendedprice").cast("double"), "number"),
    ]
    stats = compute_stats_df(df, targets)
    rows = [
        (
            name,
            int(s["count"]),
            round(s["mean"], 6),
            round(s["std"], 6),
            round(s["q1"], 6),
            round(s["median"], 6),
            round(s["q3"], 6),
        )
        for name, s in sorted(stats.items())
    ]
    return spark.createDataFrame(
        rows,
        "field string, n long, mean double, std double, q1 double,"
        " median double, q3 double",
    ).orderBy("field")


@_q(
    "preset_counts_docs",
    """
    WITH d AS (
      SELECT text,
             substr(text, 1, 5 + (doc_id % 20)::INT) AS instruction,
             substr(text, 1, 10 + (doc_id % 25)::INT) AS response,
             text AS chosen,
             CASE WHEN doc_id % 10 = 0 THEN text ELSE reverse(text) END AS rejected
      FROM documents
    )
    SELECT count(*)::BIGINT AS total,
           sum(CASE WHEN length(coalesce(instruction, '')) >= 10 THEN 0 ELSE 1 END)::BIGINT AS iq_failed,
           sum(CASE WHEN length(coalesce(response, '')) >= 20 THEN 0 ELSE 1 END)::BIGINT AS rq_failed,
           sum(CASE WHEN chosen IS NOT DISTINCT FROM rejected THEN 1 ELSE 0 END)::BIGINT AS pref_failed
    FROM d
    """,
)
def preset_counts_docs(spark, sf_dir):
    """sft + preference preset rules (ops 20-21) over a derived
    instruction/response/chosen/rejected frame — per-rule failure
    counts through the real compiled rulesets."""
    from datacheck_spark.engine import ValidationEngine, RULE_PREFIX
    from datacheck_spark.rules.compiler import (
        get_preference_ruleset,
        get_sft_ruleset,
    )

    doc = _t(spark, sf_dir, "documents")
    d = doc.select(
        "text",
        F.expr("substr(text, 1, cast(5 + doc_id % 20 as int))").alias(
            "instruction"
        ),
        F.expr("substr(text, 1, cast(10 + doc_id % 25 as int))").alias(
            "response"
        ),
        F.col("text").alias("chosen"),
        F.when(F.col("doc_id") % 10 == 0, F.col("text"))
        .otherwise(F.reverse(F.col("text")))
        .alias("rejected"),
    )
    sft_engine = ValidationEngine(ruleset=get_sft_ruleset())
    sft_rules = [
        r
        for r in sft_engine.compile(d)
        if r.rule_id in ("instruction_quality", "response_quality")
    ]
    sft = sft_engine.annotate(d, rules=sft_rules)
    pref_engine = ValidationEngine(ruleset=get_preference_ruleset())
    pref_rules = [
        r
        for r in pref_engine.compile(d)
        if r.rule_id == "chosen_rejected_different"
    ]
    pref = pref_engine.annotate(d, rules=pref_rules)
    counts = sft.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            (~F.col(RULE_PREFIX + "instruction_quality")).cast("long")
        ).alias("iq_failed"),
        F.sum((~F.col(RULE_PREFIX + "response_quality")).cast("long")).alias(
            "rq_failed"
        ),
    )
    pref_counts = pref.agg(
        F.sum(
            (~F.col(RULE_PREFIX + "chosen_rejected_different")).cast("long")
        ).alias("pref_failed")
    )
    return counts.crossJoin(pref_counts)


@_q(
    "quality_grade_docs",
    """
    WITH agg AS (
      SELECT count(*) AS total,
             sum(CASE WHEN text IS NOT NULL AND length(trim(text)) = 0
                      THEN 1 ELSE 0 END) AS failed
      FROM documents
    )
    SELECT total::BIGINT AS total,
           failed::BIGINT AS failed,
           round((total - failed)::DOUBLE / total, 6) AS pass_rate,
           CASE WHEN (total - failed)::DOUBLE / total >= 0.9 THEN 'Excellent'
                WHEN (total - failed)::DOUBLE / total >= 0.7 THEN 'Good'
                WHEN (total - failed)::DOUBLE / total >= 0.5 THEN 'Fair'
                ELSE 'Poor' END AS grade
    FROM agg
    """,
)
def quality_grade_docs(spark, sf_dir):
    """Quality grade (op 45): ERROR-severity pass rate of the builtin
    suite over documents → report.quality_grade letter, oracle-checked
    (non_empty is the only ERROR rule compiled for this frame; its
    blank-text predicate is space-only in this corpus so DuckDB trim
    suffices)."""
    from datacheck_spark.engine import ValidationEngine, HAS_ERROR
    from datacheck_spark.report import quality_grade
    from datacheck_spark.schema import ValidationSchema

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    engine = ValidationEngine(schema=ValidationSchema())
    rules = [r for r in engine.compile(df) if r.rule_id == "non_empty"]
    annotated = engine.annotate(df, rules=rules)
    row = annotated.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col(HAS_ERROR).cast("long")).alias("failed"),
    ).collect()[0]
    total, failed = row["total"], int(row["failed"] or 0)
    pass_rate = (total - failed) / total if total else 1.0
    return spark.createDataFrame(
        [(total, failed, round(pass_rate, 6), quality_grade(pass_rate))],
        "total long, failed long, pass_rate double, grade string",
    )


#: cache of deterministic JSONL files for the directory-scan oracle —
#: pure-Python writes (no Spark), materialized by entry() and lazily by
#: the query; includes same-named files in different subdirectories to
#: pin the relative-path keying.
DIRSCAN_CACHE = str(CONTRACT_CACHE / "dirscan")


def ensure_dirscan_files() -> str:
    import json as _json
    import os

    marker = os.path.join(DIRSCAN_CACHE, ".complete")
    if os.path.exists(marker):
        return DIRSCAN_CACHE
    spec = {
        "a/part1.jsonl": [
            {"id": str(i), "text": "   " if i % 5 == 0 else f"hello world {i}"}
            for i in range(10)
        ],
        "a/part2.jsonl": [
            {"id": str(i), "text": "   " if i % 7 == 0 else f"more text {i}"}
            for i in range(10, 25)
        ],
        "b/part1.jsonl": [
            {"id": str(i), "text": f"clean row {i}"} for i in range(5)
        ],
    }
    for rel, rows in spec.items():
        path = os.path.join(DIRSCAN_CACHE, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
    with open(marker, "w", encoding="utf-8") as f:
        f.write("ok")
    return DIRSCAN_CACHE


@_q(
    "dir_scan_per_file",
    f"""
    SELECT regexp_replace(filename, '.*?/dirscan/', '') AS rel_file,
           count(*)::BIGINT AS total,
           sum(CASE WHEN text IS NOT NULL AND length(trim(text)) = 0
                    THEN 1 ELSE 0 END)::BIGINT AS blank_count
    FROM read_json_auto('{DIRSCAN_CACHE}/**/*.jsonl', filename=true)
    GROUP BY rel_file ORDER BY rel_file
    """,
)
def dir_scan_per_file(spark, sf_dir):
    """Directory scan + per-file aggregation (ops 4/30): load_glob over
    a nested directory of JSONL files (same basename in two subdirs),
    ONE job per-file rollup keyed by relative path — oracle-checked
    against DuckDB's native multi-file JSON reader."""
    from datacheck_spark.sources import load_glob

    root = ensure_dirscan_files()
    df = load_glob(spark, root)
    c = F.col("text")
    rel = F.regexp_replace("source_file", ".*?/dirscan/", "")
    return (
        df.groupBy(rel.alias("rel_file"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                (c.isNotNull() & (F.length(F.trim(c)) == 0)).cast("long")
            ).alias("blank_count"),
        )
        .orderBy("rel_file")
    )


@_q(
    "embedding_near_dup_exact",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT a.vec_id::VARCHAR AS id_a, b.vec_id::VARCHAR AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
    FROM e a, e b
    WHERE a.vec_id::VARCHAR < b.vec_id::VARCHAR
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_exact(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact path (lsh_planes=0 →
    full pairwise) — oracle-checked against DuckDB
    list_cosine_similarity. The OR-amplified LSH path is the scale
    variant, recall-tested in tests/test_ann_recall.py."""
    from datacheck_spark.dedup import embedding_near_duplicates

    df = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(
        df, "embedding", "vec_id", threshold=0.4, lsh_planes=0
    )
    return pairs.select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    ).orderBy("id_a", "id_b")


#: standalone reader fixtures (committed): an envelope .json and a CSV
FILES_CACHE = str(CONTRACT_CACHE / "files")


def ensure_file_fixtures() -> str:
    import json as _json
    import os

    os.makedirs(FILES_CACHE, exist_ok=True)
    env = os.path.join(FILES_CACHE, "envelope.json")
    if not os.path.exists(env):
        with open(env, "w", encoding="utf-8") as f:
            _json.dump(
                {
                    "samples": [
                        {"id": f"s{i}", "text": f"sample text {i}", "score": i % 5}
                        for i in range(40)
                    ],
                    "schema": {"fields": [{"name": "text", "type": "text"}]},
                },
                f,
                indent=2,  # pretty-printed: multi-line on purpose
            )
    csvp = os.path.join(FILES_CACHE, "records.csv")
    if not os.path.exists(csvp):
        with open(csvp, "w", encoding="utf-8") as f:
            f.write("id,amount,label\n")
            for i in range(30):
                f.write(f"r{i},{i * 10},{'even' if i % 2 == 0 else 'odd'}\n")
    return FILES_CACHE


@_q(
    "sample_hash_docs",
    """
    SELECT doc_id FROM documents
    WHERE CAST(('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
          <= CAST(floor(0.1 * 4294967295) AS BIGINT)
    ORDER BY doc_id
    """,
)
def sample_hash_docs(spark, sf_dir):
    """Deterministic sampling (op 5, scale path): md5-hash-threshold —
    shuffle-free, engine-portable (the oracle reproduces the EXACT row
    set), predicate pushes into the scan."""
    from datacheck_spark.sources import sample_deterministic

    df = _t(spark, sf_dir, "documents")
    return sample_deterministic(df, "doc_id", rate=0.1).select(
        "doc_id"
    ).orderBy("doc_id")


@_q(
    "required_fields_events",
    """
    SELECT count(*)::BIGINT AS total,
           count(*)::BIGINT AS failed,
           'nonexistent_field' AS missing
    FROM events
    """,
)
def required_fields_events(spark, sf_dir):
    """required_fields (op 8) through the real engine: a declared
    required field absent from the frame fails every row statically
    (reference rules.py:361-372 key-presence semantics)."""
    from datacheck_spark.engine import ValidationEngine, RULE_PREFIX
    from datacheck_spark.schema import FieldSpec, ValidationSchema

    df = _t(spark, sf_dir, "events")
    schema = ValidationSchema(
        fields=[
            FieldSpec(name="event_type", type="text", required=True),
            FieldSpec(name="nonexistent_field", type="text", required=True),
        ]
    )
    engine = ValidationEngine(schema=schema)
    rules = [
        r for r in engine.compile(df) if r.rule_id == "required_fields"
    ]
    annotated = engine.annotate(df, rules=rules)
    return annotated.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col(RULE_PREFIX + "required_fields")).cast("long")).alias(
            "failed"
        ),
        F.first(rules[0].observed).alias("missing"),
    )


@_q(
    "csv_reader_fixture",
    f"""
    SELECT id, amount, label
    FROM read_csv('{FILES_CACHE}/records.csv', all_varchar = true)
    ORDER BY id
    """,
)
def csv_reader_fixture(spark, sf_dir):
    """CSV reader (op 2): all-string typing preserved (reference
    csv.DictReader semantics) — every column must come back VARCHAR on
    both sides."""
    from datacheck_spark.sources import load_data

    ensure_file_fixtures()
    df, _schema = load_data(spark, f"{FILES_CACHE}/records.csv")
    return df.select("id", "amount", "label").orderBy("id")


@_q(
    "envelope_reader_fixture",
    f"""
    SELECT u.id AS id, u.text AS text, u.score::BIGINT AS score
    FROM (
      SELECT unnest(samples) AS u
      FROM read_json_auto('{FILES_CACHE}/envelope.json')
    )
    ORDER BY id
    """,
)
def envelope_reader_fixture(spark, sf_dir):
    """JSON envelope reader (op 3): a pretty-printed
    ``{{samples: [...], schema: ...}}`` file through load_data — the
    embedded sample list becomes rows; DuckDB unnests the same file."""
    from datacheck_spark.sources import load_data

    ensure_file_fixtures()
    df, schema = load_data(spark, f"{FILES_CACHE}/envelope.json")
    assert schema, "envelope schema sidecar must be surfaced"
    return df.select(
        "id", "text", F.col("score").cast("long").alias("score")
    ).orderBy("id")


@_q(
    "llm_scores_docs",
    """
    WITH d AS (
      SELECT doc_id::VARCHAR AS id,
             substr(text, 1, 8 + (doc_id % 10)::INT) AS instruction,
             substr(text, 1, 20 + (doc_id % 120)::INT) AS response
      FROM documents WHERE doc_id < 300
    ), toks AS (
      SELECT id, instruction, response,
             list_distinct(list_filter(
               regexp_split_to_array(lower(trim(instruction)), '\\s+'), x -> x <> '')) AS it,
             list_distinct(list_filter(
               regexp_split_to_array(lower(trim(response)), '\\s+'), x -> x <> '')) AS rt
      FROM d
    ), scored AS (
      SELECT id,
             CASE WHEN length(instruction) >= 10 THEN 5.0 ELSE 2.0 END AS clarity,
             2.0 + least(3.0,
               CASE WHEN len(it) > 0
                    THEN len(list_intersect(it, rt))::DOUBLE / len(it) * 6.0
                    ELSE 0.0 END) AS relevance,
             least(5.0, 1.0 + length(response) / 40.0) AS completeness,
             3.0 AS accuracy
      FROM toks
    )
    SELECT id,
           round(clarity, 4) AS clarity,
           round(relevance, 4) AS relevance,
           round(completeness, 4) AS completeness,
           round(accuracy, 4) AS accuracy,
           round_even((clarity + relevance + completeness + accuracy) / 4.0, 0) AS overall
    FROM scored ORDER BY id
    """,
)
def llm_scores_docs(spark, sf_dir):
    """LLM-judge enrichment (op 23): the REAL mapInPandas batched
    scoring path with the deterministic mock provider over derived
    instruction/response pairs — every scoring heuristic (clarity,
    token-overlap relevance, length completeness, banker's-rounded
    overall) value-checked by a DuckDB reimplementation."""
    from datacheck_spark.llm_rules import llm_scores

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select(
            F.col("doc_id").cast("string").alias("id"),
            F.expr("substr(text, 1, cast(8 + doc_id % 10 as int))").alias(
                "instruction"
            ),
            F.expr("substr(text, 1, cast(20 + doc_id % 120 as int))").alias(
                "response"
            ),
        )
    )
    scores = llm_scores(d, "id", provider="mock")
    return scores.select(
        F.col("__row_id").alias("id"),
        F.round("clarity", 4).alias("clarity"),
        F.round("relevance", 4).alias("relevance"),
        F.round("completeness", 4).alias("completeness"),
        F.round("accuracy", 4).alias("accuracy"),
        F.col("overall").alias("overall"),
    ).orderBy("id")


@_q(
    "near_dedup_keep_best_docs",
    """
    WITH g AS (
      SELECT doc_id, n_chars,
             list_distinct(list_transform(
               generate_series(1, length(lower(trim(text))) - 2),
               i -> substr(lower(trim(text)), i, 3))) AS grams
      FROM documents WHERE doc_id < 200
    ), pairs AS (
      SELECT a.doc_id::VARCHAR AS id_a, b.doc_id::VARCHAR AS id_b
      FROM g a, g b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.grams, b.grams))::DOUBLE /
            (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      -- transitive closure: every (node, reachable) pair
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    ), comp AS (
      SELECT src AS id, min(dst) AS component FROM reach GROUP BY src
    ), ranked AS (
      SELECT d.doc_id, c.component,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, d.doc_id::VARCHAR
             ) AS rk
      FROM g d JOIN comp c ON d.doc_id::VARCHAR = c.id
    )
    SELECT doc_id FROM g
    WHERE doc_id::VARCHAR NOT IN (SELECT id FROM comp)
    UNION ALL
    SELECT doc_id FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
)
def near_dedup_keep_best_docs(spark, sf_dir):
    """Keep-best near-dedup (training-pipeline op): connected
    components over exact n-gram-Jaccard pairs, keep the longest doc
    per component (ties → smallest id) — the min-label-propagation CC
    is oracle-checked against a DuckDB recursive-CTE transitive
    closure."""
    from datacheck_spark.dedup import (
        near_dedup_keep_best,
        near_duplicate_pairs_exact,
    )

    df = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = near_duplicate_pairs_exact(df, ["text"], "doc_id", threshold=0.8)
    kept = near_dedup_keep_best(df, pairs, "doc_id", "n_chars")
    return kept.select("doc_id").orderBy("doc_id")


@_q(
    "stratified_sample_docs",
    """
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
          <= CASE source
               WHEN 'src0' THEN CAST(floor(1.0 * 4294967295) AS BIGINT)
               WHEN 'src1' THEN CAST(floor(0.5 * 4294967295) AS BIGINT)
               WHEN 'src2' THEN CAST(floor(0.1 * 4294967295) AS BIGINT)
               ELSE CAST(floor(0.02 * 4294967295) AS BIGINT)
             END
    ORDER BY doc_id
    """,
)
def stratified_sample_docs(spark, sf_dir):
    """Stratified deterministic sampling (training-data rebalancing):
    per-source rates over the portable md5 threshold — exact row set
    oracle-checked."""
    from datacheck_spark.sources import stratified_sample_deterministic

    df = _t(spark, sf_dir, "documents")
    out = stratified_sample_deterministic(
        df,
        "doc_id",
        "source",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.1},
        default_rate=0.02,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


@_q(
    "bucket_verdicts_transcripts",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}')),
    flags AS (
      SELECT conv_bucket,
             NOT (conv_id IS NOT NULL AND turn_idx IS NOT NULL)
             OR NOT (turn_idx IS NULL OR turn_idx >= 0)
             OR NOT (role IS NOT NULL AND role IN ('user','assistant','system','tool'))
             OR NOT (text IS NOT NULL
                     AND length(regexp_replace(text, '^{_WS_RE2}+|{_WS_RE2}+$', '', 'g')) > 0)
             AS has_error
      FROM t
    )
    SELECT conv_bucket,
           count(*)::BIGINT AS total,
           sum(has_error::INT)::BIGINT AS failed,
           round((count(*) - sum(has_error::INT))::DOUBLE / count(*), 6) AS pass_rate,
           ((count(*) - sum(has_error::INT))::DOUBLE / count(*)) >= 0.95 AS passed
    FROM flags GROUP BY conv_bucket ORDER BY conv_bucket
    """,
)
def bucket_verdicts_transcripts(spark, sf_dir):
    """Per-partition pass/fail verdicts (north-star contract line):
    ERROR-rule pass rate per conv_id hash bucket with a threshold
    verdict, oracle-checked against a DuckDB reimplementation of the
    four ERROR rules over the same fixture parquet."""
    from datacheck_spark.transcripts import (
        TranscriptChecker,
        per_bucket_verdicts,
    )

    df = transcripts_table(spark)
    checker = TranscriptChecker(include_repetitive=False)
    annotated = checker.annotated(df)
    return per_bucket_verdicts(annotated, threshold=0.95).orderBy(
        "conv_bucket"
    )


@_q(
    "daily_verdicts_transcripts",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}')),
    flags AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS ts_day,
             NOT (conv_id IS NOT NULL AND turn_idx IS NOT NULL)
             OR NOT (turn_idx IS NULL OR turn_idx >= 0)
             OR NOT (role IS NOT NULL AND role IN ('user','assistant','system','tool'))
             OR NOT (text IS NOT NULL
                     AND length(regexp_replace(text, '^{_WS_RE2}+|{_WS_RE2}+$', '', 'g')) > 0)
             AS has_error
      FROM t
    )
    SELECT ts_day,
           count(*)::BIGINT AS total,
           sum(has_error::INT)::BIGINT AS failed,
           round((count(*) - sum(has_error::INT))::DOUBLE / count(*), 6) AS pass_rate,
           ((count(*) - sum(has_error::INT))::DOUBLE / count(*)) >= 0.95 AS passed
    FROM flags GROUP BY ts_day ORDER BY ts_day
    """,
)
def daily_verdicts_transcripts(spark, sf_dir):
    """Per ts-day pass/fail verdicts — the north rule's second explicit
    partitioning dimension ("conv_id hash buckets + ts days"). Keyed by
    the timezone-independent UTC epoch-day number so the DuckDB oracle
    compares instants, not session-local dates."""
    from datacheck_spark.transcripts import (
        TranscriptChecker,
        per_day_verdicts,
    )

    df = transcripts_table(spark)
    checker = TranscriptChecker(include_repetitive=False)
    annotated = checker.annotated(df)
    return per_day_verdicts(
        annotated, threshold=0.95, utc_day_number=True
    ).orderBy("ts_day")


@_q(
    "conv_structure_transcripts",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}')),
    o AS (
      SELECT conv_id, turn_idx, role, text, ts,
             lag(turn_idx) OVER w AS prev_idx,
             lag(role) OVER w AS prev_role,
             lag(ts) OVER w AS prev_ts
      FROM t
      WINDOW w AS (
        PARTITION BY conv_id
        ORDER BY turn_idx ASC NULLS FIRST, role ASC NULLS FIRST,
                 ts ASC NULLS FIRST
      )
    ),
    f AS (
      SELECT conv_id, turn_idx,
             (prev_idx IS NOT NULL AND turn_idx = prev_idx)::INT AS dup_turn,
             (prev_idx IS NOT NULL AND turn_idx > prev_idx + 1)::INT AS gap_turn,
             (prev_role IS NOT NULL AND role = prev_role)::INT AS role_repeat,
             (prev_ts IS NOT NULL AND ts < prev_ts)::INT AS ts_regress,
             COALESCE(role = 'tool'
                      AND (prev_role IS NULL OR prev_role <> 'assistant'),
                      FALSE)::INT AS unpaired_tool,
             COALESCE(role = 'assistant'
                      AND (text IS NULL OR length(regexp_replace(
                             text, '^{_WS_RE2}+|{_WS_RE2}+$', '', 'g')) = 0),
                      FALSE)::INT AS empty_asst
      FROM o
    ),
    a AS (
      SELECT conv_id,
             count(*)::BIGINT AS n_turns,
             (min(turn_idx) = 0) AS starts,
             (COALESCE(sum(dup_turn), 0) = 0) AS nodup,
             (COALESCE(sum(gap_turn), 0) = 0) AS nogap,
             (COALESCE(sum(role_repeat), 0) = 0) AS roles_alternate,
             (COALESCE(sum(ts_regress), 0) = 0) AS ts_monotonic,
             (COALESCE(sum(unpaired_tool), 0) = 0) AS tool_turns_paired,
             (COALESCE(sum(empty_asst), 0) = 0) AS no_empty_assistant
      FROM f GROUP BY conv_id
    )
    SELECT conv_id, n_turns,
           (starts AND nodup AND nogap) AS contiguous,
           roles_alternate, ts_monotonic, tool_turns_paired,
           no_empty_assistant,
           (starts AND nodup AND nogap AND roles_alternate
            AND ts_monotonic AND tool_turns_paired
            AND no_empty_assistant) AS conv_pass
    FROM a ORDER BY conv_id
    """,
)
def conv_structure_transcripts(spark, sf_dir):
    """Cross-turn conversation-structure verdicts (contiguous turn_idx,
    role alternation, ts monotonicity) — batch rules a per-row pass
    cannot express; oracle re-derives every flag with DuckDB window
    functions under the same stable turn ordering."""
    from datacheck_spark.transcripts import conversation_structure

    df = transcripts_table(spark)
    return conversation_structure(df).orderBy("conv_id")


@_q(
    "structure_violations_transcripts",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}')),
    o AS (
      SELECT conv_id, turn_idx, role, text, ts,
             lag(turn_idx) OVER w AS prev_idx,
             lag(role) OVER w AS prev_role,
             lag(ts) OVER w AS prev_ts
      FROM t
      WINDOW w AS (
        PARTITION BY conv_id
        ORDER BY turn_idx ASC NULLS FIRST, role ASC NULLS FIRST,
                 ts ASC NULLS FIRST
      )
    )
    SELECT conv_id, turn_idx, rule_id, observed FROM (
      SELECT conv_id, turn_idx, 'duplicate_turn' AS rule_id,
             'turn_idx ' || turn_idx || ' repeats' AS observed,
             (prev_idx IS NOT NULL AND turn_idx = prev_idx) AS hit
      FROM o
      UNION ALL
      SELECT conv_id, turn_idx, 'turn_gap',
             'prev turn_idx ' || prev_idx || ' -> ' || turn_idx,
             (prev_idx IS NOT NULL AND turn_idx > prev_idx + 1)
      FROM o
      UNION ALL
      SELECT conv_id, turn_idx, 'role_repeat',
             'role ' || role || ' repeats',
             (prev_role IS NOT NULL AND role = prev_role)
      FROM o
      UNION ALL
      SELECT conv_id, turn_idx, 'ts_regression',
             'ts ' || ts::VARCHAR || ' < prev ' || prev_ts::VARCHAR,
             (prev_ts IS NOT NULL AND ts < prev_ts)
      FROM o
      UNION ALL
      SELECT conv_id, turn_idx, 'unpaired_tool_turn',
             'tool turn follows ' || COALESCE(prev_role, 'start'),
             (role = 'tool'
              AND (prev_role IS NULL OR prev_role <> 'assistant'))
      FROM o
      UNION ALL
      SELECT conv_id, turn_idx, 'empty_assistant_turn',
             'assistant text blank (len '
               || COALESCE(length(text)::VARCHAR, 'null') || ')',
             (role = 'assistant'
              AND (text IS NULL OR length(regexp_replace(
                     text, '^{_WS_RE2}+|{_WS_RE2}+$', '', 'g')) = 0))
      FROM o
    ) WHERE COALESCE(hit, FALSE)
    ORDER BY conv_id, turn_idx, rule_id
    """,
)
def structure_violations_transcripts(spark, sf_dir):
    """Per-turn violation rows (conv_id, turn_idx, rule_id, observed)
    for the cross-turn structure rules — the north rule's violation-row
    shape; oracle re-derives each rule arm AND the observed strings
    with DuckDB window functions under the same stable ordering."""
    from datacheck_spark.transcripts import structure_violations

    df = transcripts_table(spark)
    return structure_violations(df).orderBy(
        "conv_id", "turn_idx", "rule_id"
    )


# per-turn render + hash shared by the two conversation-dedup oracles:
# md5 of turn_idx␟role␟text␟tool with chr(1) null markers — the exact
# string transcripts.conversation_fingerprint builds (md5 is the one
# hash both engines compute byte-identically)
_TURN_HASH_SQL = (
    "md5(COALESCE(turn_idx::VARCHAR, chr(1)) || chr(31) || "
    "COALESCE(role, chr(1)) || chr(31) || "
    "COALESCE(text, chr(1)) || chr(31) || "
    "COALESCE(tool, chr(1)))"
)


@_q(
    "conv_fingerprint_transcripts",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}')),
    c AS (SELECT conv_id, {_TURN_HASH_SQL} AS th FROM t)
    SELECT conv_id, count(*)::BIGINT AS n_turns,
           md5(string_agg(th, '' ORDER BY th)) AS conv_fp
    FROM c GROUP BY conv_id ORDER BY conv_id
    """,
)
def conv_fingerprint_transcripts(spark, sf_dir):
    """Conversation-level exact content fingerprints (md5 over sorted
    per-turn md5s — order-insensitive aggregation of an order-carrying
    hash, so the fingerprint is a pure function of the ordered turn
    content); every fingerprint string value-checked against DuckDB
    computing the identical construction."""
    from datacheck_spark.transcripts import conversation_fingerprint

    df = transcripts_table(spark)
    return conversation_fingerprint(df).orderBy("conv_id")


_DUP_PLANT_IDS = "('conv_000003', 'conv_000007', 'conv_000011')"


@_q(
    "conv_dedup_transcripts",
    f"""
    WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_GLOB}')),
    u AS (
      SELECT conv_id, turn_idx, role, text, tool FROM t
      UNION ALL
      SELECT conv_id || '_dup', turn_idx, role, text, tool FROM t
      WHERE conv_id IN {_DUP_PLANT_IDS}
    ),
    c AS (SELECT conv_id, {_TURN_HASH_SQL} AS th FROM u),
    fp AS (
      SELECT conv_id, count(*)::BIGINT AS n_turns,
             md5(string_agg(th, '' ORDER BY th)) AS conv_fp
      FROM c GROUP BY conv_id
    )
    SELECT conv_fp, count(*)::BIGINT AS n_convs,
           min(n_turns) AS n_turns,
           array_to_string((list(conv_id ORDER BY conv_id))[1:5], ',')
             AS conv_ids
    FROM fp GROUP BY conv_fp HAVING count(*) > 1 ORDER BY conv_fp
    """,
)
def conv_dedup_transcripts(spark, sf_dir):
    """Conversation-level exact dedup: three conversations are planted
    as relabeled full copies inside the query, and the duplicate-group
    output (fingerprint, group size, member ids) must match DuckDB's
    re-derivation — proving the dedup keys on content, not conv_id."""
    from datacheck_spark.transcripts import conversation_duplicates

    df = transcripts_table(spark).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    ids = [s.strip("' ") for s in _DUP_PLANT_IDS.strip("()").split(",")]
    planted = df.unionByName(
        df.where(F.col("conv_id").isin(ids)).withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("_dup"))
        )
    )
    return conversation_duplicates(planted, max_ids=5).orderBy("conv_fp")


@_q(
    "pack_documents",
    """
    WITH c AS (
      SELECT doc_id,
             (sum(COALESCE(n_chars, 0)) OVER (
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - COALESCE(n_chars, 0))::BIGINT AS start_offset
      FROM documents
    )
    SELECT doc_id, start_offset,
           CAST(FLOOR(start_offset / 4096.0) AS BIGINT) AS pack_id
    FROM c ORDER BY doc_id
    """,
)
def pack_documents(spark, sf_dir):
    """Sequence packing (concat-and-chunk pack assignment) via the
    two-phase distributed prefix sum — NOT a global single-partition
    window; oracle recomputes the running offsets with a DuckDB window
    function over the same stable order."""
    from datacheck_spark.packing import assign_packs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return assign_packs(
        docs, "n_chars", budget=4096, order_col="doc_id",
        num_partitions=8,
    ).select("doc_id", "start_offset", "pack_id").orderBy("doc_id")


@_q(
    "pack_stats_documents",
    """
    WITH c AS (
      SELECT doc_id, COALESCE(n_chars, 0)::BIGINT AS tok,
             (sum(COALESCE(n_chars, 0)) OVER (
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - COALESCE(n_chars, 0))::BIGINT AS start_offset
      FROM documents
    )
    SELECT CAST(FLOOR(start_offset / 4096.0) AS BIGINT) AS pack_id,
           count(*)::BIGINT AS n_docs,
           sum(tok)::BIGINT AS tokens,
           min(start_offset)::BIGINT AS first_offset
    FROM c GROUP BY pack_id ORDER BY pack_id
    """,
)
def pack_stats_documents(spark, sf_dir):
    """Per-pack rollup (docs, tokens, first offset) of the packing
    assignment — the pack manifest a training loader consumes."""
    from datacheck_spark.packing import assign_packs, pack_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = assign_packs(
        docs, "n_chars", budget=4096, order_col="doc_id",
        num_partitions=8,
    )
    return pack_stats(packed, "n_chars")


@_q(
    "key_skew_events",
    """
    WITH counts AS (
      SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY user_id
    ), stats AS (
      SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS n_keys
      FROM counts
    )
    SELECT c.user_id, c.cnt,
           round(c.cnt::DOUBLE / s.total, 6) AS share,
           round(c.cnt::DOUBLE * s.n_keys / s.total, 4) AS skew
    FROM counts c CROSS JOIN stats s
    ORDER BY c.cnt DESC, c.user_id LIMIT 10
    """,
)
def key_skew_events(spark, sf_dir):
    """Hot-key shuffle-skew diagnosis (beyond-reference ``skew.py``):
    the 10 hottest user_id keys with their row share and skew factor
    vs a uniform key distribution — the pre-shuffle report that picks
    salt fan-outs at 10^12-row scale."""
    from datacheck_spark.skew import hot_keys

    df = _t(spark, sf_dir, "events")
    return hot_keys(df, ["user_id"], top_k=10).select(
        "user_id",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("share", 6).alias("share"),
        F.round("skew", 4).alias("skew"),
    )


@_q(
    "suggest_rules_events",
    """
    WITH p AS (
      SELECT count(*) AS total,
             count(event_id) AS nn_eid, min(event_id) AS mn_eid, max(event_id) AS mx_eid,
             count(ts) AS nn_ts,
             count(user_id) AS nn_uid, min(user_id) AS mn_uid, max(user_id) AS mx_uid,
             count(event_type) AS nn_et,
             sum(CASE WHEN trim(event_type) = '' THEN 1 ELSE 0 END) AS bl_et,
             sum(CASE WHEN event_type IS NOT NULL
                      AND NOT json_valid(event_type) THEN 1 ELSE 0 END) AS nj_et,
             min(length(event_type)) AS lmn_et, max(length(event_type)) AS lmx_et,
             count(DISTINCT event_type) AS u_et,
             count(value) AS nn_val, min(value) AS mn_val, max(value) AS mx_val,
             count(props) AS nn_props,
             sum(CASE WHEN trim(props) = '' THEN 1 ELSE 0 END) AS bl_props,
             sum(CASE WHEN props IS NOT NULL
                      AND NOT json_valid(props) THEN 1 ELSE 0 END) AS nj_props,
             min(length(props)) AS lmn_props, max(length(props)) AS lmx_props,
             count(DISTINCT props) AS u_props
      FROM events
    )
    SELECT 'event_id' AS field, 'required' AS "check",
           NULL::DOUBLE AS p1, NULL::DOUBLE AS p2, NULL::VARCHAR AS vals
      FROM p WHERE total > 0 AND nn_eid >= 0.95 * total
    UNION ALL SELECT 'event_id', 'number_range', mn_eid::DOUBLE, mx_eid::DOUBLE, NULL
      FROM p WHERE total > 0 AND nn_eid > 0
    UNION ALL SELECT 'ts', 'required', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_ts >= 0.95 * total
    UNION ALL SELECT 'user_id', 'required', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_uid >= 0.95 * total
    UNION ALL SELECT 'user_id', 'number_range', mn_uid::DOUBLE, mx_uid::DOUBLE, NULL
      FROM p WHERE total > 0 AND nn_uid > 0
    UNION ALL SELECT 'event_type', 'required', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_et >= 0.95 * total
    UNION ALL SELECT 'event_type', 'non_empty', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_et = total AND bl_et = 0
    UNION ALL SELECT 'event_type', 'min_length', lmn_et::DOUBLE, NULL, NULL
      FROM p WHERE total > 0 AND nn_et = total AND lmn_et >= 1
    UNION ALL SELECT 'event_type', 'max_length', lmx_et::DOUBLE, NULL, NULL
      FROM p WHERE total > 0 AND nn_et > 0
    UNION ALL SELECT 'event_type', 'json_valid', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_et = total AND nj_et = 0
    UNION ALL SELECT 'event_type', 'json_path', NULL, NULL, '$.' || key
      FROM (SELECT unnest(list_distinct(json_keys(event_type))) AS key, event_type AS j
              FROM events WHERE json_valid(event_type)) t, p
     GROUP BY key, p.total, p.nn_et, p.nj_et
    HAVING p.total > 0 AND p.nn_et = p.total AND p.nj_et = 0
       AND regexp_matches(key, '^[A-Za-z0-9_]+$')
       AND sum(CASE WHEN json_extract_string(t.j, '$.' || key)
                    IS NOT NULL THEN 1 ELSE 0 END) = p.total
    UNION ALL SELECT 'event_type', 'enum', NULL, NULL,
           (SELECT string_agg(v, ',' ORDER BY v)
              FROM (SELECT DISTINCT event_type AS v FROM events))
      FROM p WHERE total > 0 AND nn_et = total AND u_et <= 20
    UNION ALL SELECT 'value', 'required', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_val >= 0.95 * total
    UNION ALL SELECT 'value', 'number_range', mn_val, mx_val, NULL
      FROM p WHERE total > 0 AND nn_val > 0
    UNION ALL SELECT 'props', 'required', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_props >= 0.95 * total
    UNION ALL SELECT 'props', 'non_empty', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_props = total AND bl_props = 0
    UNION ALL SELECT 'props', 'min_length', lmn_props::DOUBLE, NULL, NULL
      FROM p WHERE total > 0 AND nn_props = total AND lmn_props >= 1
    UNION ALL SELECT 'props', 'max_length', lmx_props::DOUBLE, NULL, NULL
      FROM p WHERE total > 0 AND nn_props > 0
    UNION ALL SELECT 'props', 'json_valid', NULL, NULL, NULL
      FROM p WHERE total > 0 AND nn_props = total AND nj_props = 0
    UNION ALL SELECT 'props', 'json_path', NULL, NULL, '$.' || key
      FROM (SELECT unnest(list_distinct(json_keys(props))) AS key, props AS j
              FROM events WHERE json_valid(props)) t, p
     GROUP BY key, p.total, p.nn_props, p.nj_props
    HAVING p.total > 0 AND p.nn_props = p.total AND p.nj_props = 0
       AND regexp_matches(key, '^[A-Za-z0-9_]+$')
       AND sum(CASE WHEN json_extract_string(t.j, '$.' || key)
                    IS NOT NULL THEN 1 ELSE 0 END) = p.total
    UNION ALL SELECT 'props', 'enum', NULL, NULL,
           (SELECT string_agg(v, ',' ORDER BY v)
              FROM (SELECT DISTINCT props AS v FROM events))
      FROM p WHERE total > 0 AND nn_props = total AND u_props <= 20
    """,
)
def suggest_rules_events(spark, sf_dir):
    """Rule suggestion (beyond-reference ``suggest.py``, Deequ-style
    constraint suggestion): profile events in one agg pass and emit the
    suggested config flattened to ``(field, check, p1, p2, vals)``.
    Every arm of the DuckDB oracle re-derives the same emission
    conditions (completeness bar, blank-free, enum cardinality ≤ 20),
    so the suggested RULE SET — not just the profile — is value-checked."""
    from datacheck_spark.suggest import suggest_rules, suggestions_table

    df = _t(spark, sf_dir, "events")
    return suggestions_table(spark, suggest_rules(df))


@_q(
    "json_checks_events",
    """
    SELECT event_id,
           coalesce(json_valid(props), FALSE) AS json_ok,
           coalesce(
             CASE WHEN json_valid(props)
                  THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
                       BETWEEN 0 AND 50
                  ELSE FALSE END, FALSE) AS k_in_range,
           coalesce(
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.missing') IS NOT NULL
                  ELSE FALSE END, FALSE) AS missing_path
    FROM events ORDER BY event_id
    """,
)
def json_checks_events(spark, sf_dir):
    """Beyond-reference semi-structured checks (SURVEY §2.3 extension):
    ``json_valid`` and ``json_path`` compiled through the REAL config
    compiler (``rules/compiler.py::_config_check_column``) over the
    events JSON payload column — native try_parse_json /
    get_json_object Columns, no Python."""
    from datacheck_spark.rules.compiler import _config_check_column

    df = _t(spark, sf_dir, "events")
    jv = _config_check_column(df, "props", "json_valid", {})
    jk = _config_check_column(
        df, "props", "json_path", {"path": "$.k", "min": 0, "max": 50}
    )
    jm = _config_check_column(df, "props", "json_path", {"path": "$.missing"})
    return df.select(
        "event_id",
        jv.alias("json_ok"),
        jk.alias("k_in_range"),
        jm.alias("missing_path"),
    ).orderBy("event_id")


def queries() -> Dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> Dict[str, str]:
    return dict(_ORACLES)
