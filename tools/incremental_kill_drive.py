"""Kill-and-heal identity drive for incremental validation.

Protocol: a child process runs the initial incremental pass over the
transcripts table of ``tools/transcripts_table.py`` (64 files) with
``incremental.FILE_GROUP_SIZE`` set to 16 (4 groups) and is hard-killed at the WORST possible moment — after
group 1's batch dir is fully written but BEFORE its manifest commit.
The re-run must (a) treat group 0 as done, (b) heal the orphan batch=1
dir by overwriting it, and (c) end with a live violation view identical
(order-insensitive xor hash + count) to a direct full-table run.
Results recorded in BENCH/RESUME.md. Usage::

    python tools/incremental_kill_drive.py N_CONVS
"""

import argparse
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

TOOLS = Path(__file__).resolve().parent
sys.path.insert(0, str(TOOLS))
from transcripts_table import ensure_transcripts, spark_session  # noqa: E402

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("n_convs", type=int, help="conversations in the table")
args = ap.parse_args()

spark = spark_session("incremental-kill-drive")
TPATH = ensure_transcripts(spark, args.n_convs)
BASE = tempfile.mkdtemp(prefix="incr_drive_")

CHILD = f'''
import os, sys
sys.path.insert(0, {str(TOOLS)!r})
from transcripts_table import spark_session
from datacheck_spark import incremental
from datacheck_spark.incremental import IncrementalValidator
from datacheck_spark.transcripts import TranscriptChecker

spark = spark_session("incremental-kill-drive-child")
incremental.FILE_GROUP_SIZE = 16
iv = IncrementalValidator({BASE!r}, checker=TranscriptChecker(include_repetitive=False))
orig = iv._save_state
calls = [0]
def dying_save(state):
    calls[0] += 1
    if calls[0] == 2:
        # batch=1 dir is already on disk; die BEFORE its commit
        os._exit(137)
    orig(state)
iv._save_state = dying_save
iv.run(spark, {TPATH!r})
'''

r = subprocess.run(
    [sys.executable, "-c", CHILD], capture_output=True, text=True, timeout=900
)
manifest = json.load(open(os.path.join(BASE, "incremental.json")))
orphan = os.path.isdir(os.path.join(BASE, "violations", "batch=1"))
print(
    "child rc:", r.returncode,
    "| committed batches at kill:", sorted(manifest["batches"]),
    "| orphan batch=1 dir on disk:", orphan,
    "| violation schema recorded:", "schema" in manifest,
)
assert r.returncode == 137 and sorted(manifest["batches"]) == ["0"] and orphan
assert "schema" in manifest  # the live view below reads with it

from pyspark.sql import functions as F  # noqa: E402

from datacheck_spark import incremental  # noqa: E402
from datacheck_spark.incremental import IncrementalValidator  # noqa: E402
from datacheck_spark.transcripts import TranscriptChecker  # noqa: E402

incremental.FILE_GROUP_SIZE = 16
iv = IncrementalValidator(
    BASE, checker=TranscriptChecker(include_repetitive=False)
)
out = iv.run(spark, TPATH)
print("healed run:", {k: out[k] for k in ("new_files", "batches_written")})

def xor_hash(d):
    return (
        d.select(
            F.xxhash64("conv_id", "turn_idx", "rule_id", "observed").alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"), F.count("h").alias("n"))
        .collect()[0]
    )

live = xor_hash(iv.live_violations(spark))
direct = xor_hash(
    TranscriptChecker(include_repetitive=False).violations(
        spark.read.parquet(TPATH)
    )
)
print(
    "live view:", live["n"], "rows xor", live["s"],
    "| direct run:", direct["n"], "rows xor", direct["s"],
    "| identical:", (live["n"], live["s"]) == (direct["n"], direct["s"]),
)
assert (live["n"], live["s"]) == (direct["n"], direct["s"])
print("OK: kill-and-heal preserves exact violation identity")
