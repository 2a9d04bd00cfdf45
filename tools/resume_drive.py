"""Kill-and-resume identity drive for checkpointed violations.

A child process runs ``checkpointed_violations`` over the transcripts
table of ``tools/transcripts_table.py`` (32 buckets, groups of 4) and is
hard-killed right after the first group commits. The resumed run must
end with a violation set identical (order-insensitive xor hash + count)
to a direct full-table run. Usage::

    python tools/resume_drive.py N_CONVS
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

spark = spark_session("resume-drive")
TPATH = ensure_transcripts(spark, args.n_convs)
BASE = tempfile.mkdtemp(prefix="ckpt_drive_")

CHILD = f'''
import os, sys
sys.path.insert(0, {str(TOOLS)!r})
from transcripts_table import spark_session
import datacheck_spark.checkpoint as CK
from datacheck_spark.transcripts import TranscriptChecker

spark = spark_session("resume-drive-child")
df = spark.read.parquet({TPATH!r})
orig = CK.save_state
calls = [0]
def dying_save(state):
    orig(state)
    calls[0] += 1
    if calls[0] == 1:
        os._exit(137)  # hard kill right after the first group commits
CK.save_state = dying_save
CK.checkpointed_violations(df, TranscriptChecker(include_repetitive=False),
                           {BASE!r}, n_buckets=32, group_size=4)
'''

r = subprocess.run([sys.executable, "-c", CHILD], capture_output=True, text=True, timeout=900)
manifest = json.load(open(os.path.join(BASE, "manifest.json")))
done_at_kill = sorted(int(b) for b, v in manifest["buckets"].items() if v.get("done"))
print("child rc:", r.returncode, "buckets done at kill:", done_at_kill)

# resume in-process
from pyspark.sql import functions as F  # noqa: E402

import datacheck_spark.checkpoint as CK  # noqa: E402
from datacheck_spark.transcripts import TranscriptChecker  # noqa: E402

df = spark.read.parquet(TPATH)
state = CK.checkpointed_violations(df, TranscriptChecker(include_repetitive=False),
                                   BASE, n_buckets=32, group_size=4)
print("resumed; completed buckets:", len(state.completed), "/ 32")

out = spark.read.parquet(os.path.join(BASE, "violations"))
def xor_hash(d):
    return d.select(F.xxhash64("conv_id","turn_idx","rule_id","observed").alias("h")) \
            .agg(F.expr("bit_xor(h)").alias("s"), F.count("h").alias("n")).collect()[0]
a = xor_hash(out)
direct = TranscriptChecker(include_repetitive=False).violations(df)
b = xor_hash(direct)
print("resumed rows:", a["n"], "hashsum:", a["s"])
print("direct  rows:", b["n"], "hashsum:", b["s"])
print("IDENTICAL:", a["n"] == b["n"] and a["s"] == b["s"])
