"""Regenerate the golden-value oracle fixtures for the deterministic
rows-only queries (seeded-hash / committed-media outputs that DuckDB
cannot recompute in SQL).

Runs each query in ``contract.GOLDEN_QUERIES`` at the correctness
gate's pinned scale factor (sf0.01) and writes the result as ONE
parquet file under ``.contract_cache/golden/`` via ``DataFrame.toArrow``
(exact type preservation — toPandas would widen nullable int32 to
float64). The contract's oracle SQL then just reads the file back.

Run after any INTENTIONAL change to these operators:
    python tools/make_goldens.py [sf_dir [query ...]]
and commit the updated fixtures. Name the queries whose operator
changed: the others keep their files, so a golden that fails for an
unexplained reason is not regenerated over.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main():
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from datacheck_spark import contract

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else (
        f"/root/testdata/{contract.GOLDEN_PINNED_SF}"
    )
    names = sys.argv[2:] or list(contract.GOLDEN_QUERIES)
    unknown = sorted(set(names) - set(contract.GOLDEN_QUERIES))
    if unknown:
        sys.exit(f"not golden queries: {', '.join(unknown)}")

    out_dir = Path(contract.GOLDEN_DIR)
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = contract.queries()
    for name in names:
        tbl = qs[name](spark, sf_dir).toArrow()
        dest = out_dir / f"{name}.parquet"
        pq.write_table(tbl, dest)
        print(f"wrote {dest}: {tbl.num_rows} rows, {tbl.num_columns} cols")


if __name__ == "__main__":
    main()
