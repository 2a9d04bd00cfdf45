"""Rule suggestion: profile a DataFrame and propose a validation config.

Beyond-reference capability (the reference stops at schema inference,
``checker.py:590-674``): this closes the profile → enforce loop the way
large-scale DQ systems do (cf. the constraint-suggestion stage of
Deequ, Schelter et al., "Automating Large-Scale Data Quality
Verification", VLDB 2018). The suggested config round-trips through the
existing YAML compiler (:func:`datacheck_spark.rules.compiler.
ruleset_from_config` — pass ``load_builtins=False`` to enforce just the
suggestions) and carries a guarantee: every suggested rule passes on
the data it was profiled from. (The builtin dataset-level rules a
default RuleSet adds on top make no such promise — they are what
flagged the data's issues in the first place.)

Scale shape: ONE full-scan aggregation job, ``stats.profile`` of the
shared per-column statistics (map-side partial aggregation, no shuffle
beyond the final single-row agg), with HyperLogLog sketches for the
distinct counts, plus at most one tiny follow-up job,
``stats._confirm_enums`` (shared with ``stats.infer_schema``), that
collects slice-bounded value sets for the string columns whose sketch
makes them enum candidates (2× margin). The true set size decides, so
sketch error can never change which enums are emitted.
"""

from __future__ import annotations

from typing import Any, Dict, List

from pyspark.sql import Column, DataFrame, functions as F

from datacheck_spark import stats as S

# a column this complete is suggested as required (presence is static
# in a fixed-schema DataFrame; this mirrors infer_schema's 95% bar)
REQUIRED_THRESHOLD = 0.95


def profile_columns(df: DataFrame, enum_max_uniques: int = 20) -> Dict[str, Any]:
    """One-pass per-column profile powering :func:`suggest_rules`.

    Returns ``{"total": n, "columns": {col: {stats...}}}`` where string
    columns carry ``non_null, blank, non_json, len_min, len_max,
    distinct`` (plus ``enum_values`` for a confirmed enum) and numeric
    (non-boolean) columns carry ``non_null, min, max, distinct``; every
    other type carries ``non_null`` only.

    Jobs: one ``stats.profile`` aggregation of :func:`_profile_aggs`
    (the row total rides along as ``__total``, so no separate
    ``df.count()`` job), then ``stats._confirm_enums`` over the string
    columns (skipped when no sketch makes one a candidate).
    ``distinct`` is the HLL estimate, except for confirmed enum
    columns, where it is the exact set size. Enums are decided by the
    true set size, never by the sketch alone.
    """
    row = S.profile(df, _profile_aggs(df))
    total = row["__total"]
    out: Dict[str, Any] = {"total": total, "columns": {}}
    if total == 0:
        return out

    enums = S._confirm_enums(
        df,
        {c: row[f"hll__{c}"] for c in S.columns_for(df, "lmin")},
        enum_max_uniques,
    )

    for c in df.columns:
        st: Dict[str, Any] = {"non_null": row[f"nn__{c}"]}
        if f"lmin__{c}" in row:  # a string column
            st["blank"] = row[f"blank__{c}"] or 0
            st["non_json"] = row[f"nonjson__{c}"] or 0
            st["len_min"] = row[f"lmin__{c}"]
            st["len_max"] = row[f"lmax__{c}"]
            st["distinct"] = row[f"hll__{c}"]
            if c in enums:
                st["enum_values"] = enums[c]
                st["distinct"] = len(enums[c])
        elif f"vmin__{c}" in row:  # a numeric column
            st["min"] = row[f"vmin__{c}"]
            st["max"] = row[f"vmax__{c}"]
            st["distinct"] = row[f"hll__{c}"]
        out["columns"][c] = st
    return out


def _profile_aggs(df: DataFrame) -> Dict[str, Column]:
    """The ``stats.profile_aggs`` entries :func:`profile_columns` reads:
    every column's non-null count; the string and numeric columns' own
    statistics and an HLL sketch (``distinct``, enum candidates)."""
    typed = S.columns_for(df, "lmin") + S.columns_for(df, "vmin")
    return {
        **S.profile_aggs(df, ["nn"]),
        **S.profile_aggs(
            df, ("blank", "nonjson", "lmin", "lmax", "vmin", "vmax", "hll"), typed
        ),
    }


#: keys safe to embed in a '$.key' JSONPath literal
_KEY_RE = __import__("re").compile(r"[A-Za-z0-9_]+")


def _universal_json_keys(df: DataFrame, col: str, total: int) -> List[str]:
    """Top-level keys carried (with a non-null value) by EVERY row of
    an all-JSON string column — each becomes a ``json_path``
    suggestion that provably passes (``get_json_object`` is non-null
    exactly where the parsed map value is). One explode + map-side
    partial groupBy per payload column, state bounded by the key
    cardinality; keys that can't be embedded in a ``$.key`` path
    literal are skipped."""
    kv = df.select(
        F.explode(
            F.from_json(F.col(col).cast("string"), "map<string,string>")
        ).alias("k", "v")
    )
    # filter DISTRIBUTED, collect only qualifying keys: a payload with
    # id-like keys has unbounded key cardinality, but at most
    # (shortest row's key count) keys can be universal
    rows = (
        kv.groupBy("k")
        .agg(F.sum(F.col("v").isNotNull().cast("long")).alias("nn"))
        .where(F.col("nn") == F.lit(total))
        .where(F.col("k").rlike("^[A-Za-z0-9_]+$"))
        .collect()
    )
    return sorted(r["k"] for r in rows if _KEY_RE.fullmatch(r["k"]))


def suggest_rules(
    df: DataFrame,
    enum_max_uniques: int = 20,
    required_threshold: float = REQUIRED_THRESHOLD,
    name: str = "suggested",
) -> Dict[str, Any]:
    """Suggest a validation config from observed data.

    The returned dict feeds ``ruleset_from_config`` directly. Guarantee
    (tested): every suggested rule passes on the profiled ``df``. That
    constrains which checks may be emitted when nulls are present —
    the compiler fails nulls for ``non_empty``/``min_length``/``enum``
    but passes them for ``number_range``/``max_length`` — so
    null-intolerant checks are only suggested for fully-populated
    columns.

    Per column:

    - ``required`` when completeness ≥ ``required_threshold``.
    - strings: ``non_empty`` when complete and zero blanks;
      ``max_length`` = observed max (null-safe); ``min_length`` =
      observed min when complete and min ≥ 1; ``json_valid`` when
      complete and every value parses as JSON (a payload column);
      ``enum`` of the sorted observed values when complete and
      distinct ≤ ``enum_max_uniques`` (an exact count: HLL only picks
      the candidates, see :func:`profile_columns`).
    - numerics: ``number_range`` over the observed [min, max]
      (compiler passes nulls, so safe at any completeness).
    """
    prof = profile_columns(df, enum_max_uniques=enum_max_uniques)
    total = prof["total"]
    rules: List[Dict[str, Any]] = []
    if total == 0:
        return {"name": name, "rules": rules}

    for c in df.columns:
        st = prof["columns"][c]
        nn = st["non_null"]
        complete = nn == total
        if nn / total >= required_threshold:
            rules.append(
                {
                    "field": c,
                    "check": "required",
                    "severity": "error",
                    "message": f"{c} must be present",
                }
            )
        if "len_min" in st and nn:  # string column with data
            if complete and st["blank"] == 0:
                rules.append(
                    {
                        "field": c,
                        "check": "non_empty",
                        "severity": "error",
                        "message": f"{c} must be non-empty",
                    }
                )
            if complete and st["len_min"] and st["len_min"] >= 1:
                rules.append(
                    {
                        "field": c,
                        "check": "min_length",
                        "value": int(st["len_min"]),
                        "severity": "warning",
                        "message": f"{c} length >= {st['len_min']}",
                    }
                )
            rules.append(
                {
                    "field": c,
                    "check": "max_length",
                    "value": int(st["len_max"]),
                    "severity": "warning",
                    "message": f"{c} length <= {st['len_max']}",
                }
            )
            if complete and st["non_json"] == 0:
                # every value parses as JSON → a payload column; the
                # compiled json_valid check fails nulls, so only
                # suggested when the column is fully populated
                rules.append(
                    {
                        "field": c,
                        "check": "json_valid",
                        "severity": "warning",
                        "message": f"{c} must be valid JSON",
                    }
                )
                for k in _universal_json_keys(df, c, total):
                    rules.append(
                        {
                            "field": c,
                            "check": "json_path",
                            "path": f"$.{k}",
                            "severity": "warning",
                            "message": f"{c} must carry {k}",
                        }
                    )
            if complete and "enum_values" in st:
                rules.append(
                    {
                        "field": c,
                        "check": "enum",
                        "values": st["enum_values"],
                        "severity": "warning",
                        "message": f"{c} in observed value set",
                    }
                )
        elif "min" in st and nn:  # numeric column with data
            rules.append(
                {
                    "field": c,
                    "check": "number_range",
                    "min": st["min"],
                    "max": st["max"],
                    "severity": "warning",
                    "message": f"{c} in [{st['min']}, {st['max']}]",
                }
            )
    return {"name": name, "rules": rules}


def suggestions_table(spark, config: Dict[str, Any]) -> DataFrame:
    """Flatten a suggested config into a DataFrame for inspection /
    the driver contract: ``(field, check, p1, p2, vals)`` where p1/p2
    carry the numeric parameter(s) and vals the comma-joined enum."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("field", StringType()),
            StructField("check", StringType()),
            StructField("p1", DoubleType()),
            StructField("p2", DoubleType()),
            StructField("vals", StringType()),
        ]
    )
    rows = []
    for r in config["rules"]:
        p1 = p2 = vals = None
        if r["check"] in ("min_length", "max_length"):
            p1 = float(r["value"])
        elif r["check"] == "number_range":
            p1 = float(r["min"])
            p2 = float(r["max"])
        elif r["check"] == "enum":
            vals = ",".join(r["values"])
        elif r["check"] == "json_path":
            vals = r["path"]
        rows.append((r["field"], r["check"], p1, p2, vals))
    return spark.createDataFrame(rows, schema)
