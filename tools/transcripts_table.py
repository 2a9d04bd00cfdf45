"""The large synthetic transcripts table, built once and reused.

``generate_transcripts`` (12 turns per conversation, 4 hot
conversations at 100x) written as 64 parquet files under
``.bench_cache/`` in the checkout. The crash-safety drive
(``tools/incremental_kill_drive.py``) and the bench-scale engine test
read it. Build it with::

    python tools/transcripts_table.py N_CONVS

which prints the table's path (640000 conversations ≈ 8.36M turns).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE_DIR = ROOT / ".bench_cache"

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def table_path(n_convs: int) -> Path:
    from datacheck_spark.transcripts import GEN_VERSION

    return CACHE_DIR / f"transcripts_v{GEN_VERSION}_c{n_convs}.parquet"


def spark_session(app: str):
    """``local[<cores>]`` session sized from the host: shuffle
    partitions twice the cores, driver heap a quarter of physical memory
    (1–16 GiB). Python workers import ``datacheck_spark`` from this
    checkout whatever the working directory is."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(16, ram // (4 << 30)))
    paths = [str(ROOT)] + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_transcripts(spark, n_convs: int) -> str:
    """Generate the table for ``n_convs`` conversations once; reuse it."""
    path = table_path(n_convs)
    if not path.exists():
        from datacheck_spark.transcripts import generate_transcripts

        df = generate_transcripts(
            spark, n_convs=n_convs, turns_per_conv=12, n_hot_convs=4,
            hot_factor=100,
        )
        df.repartition(64, "conv_id").write.mode("overwrite").parquet(
            str(path)
        )
    return str(path)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_convs", type=int, help="conversations to generate")
    args = ap.parse_args()
    print(ensure_transcripts(spark_session("transcripts-table"), args.n_convs))
