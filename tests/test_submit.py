"""spark-submit --py-files deployment drive.

The north-rule deployment shape is ``spark-submit --py-files
datacheck_spark.zip cli.py <cmd> ...`` on a multi-executor cluster
(reference runs as an installed console script, ``pyproject.toml``
``datacheck = datacheck.cli:main``). These tests run the REAL
``spark-submit`` binary from a scratch cwd with PYTHONPATH scrubbed, so
the only source of the package on the driver is the ``--py-files``
archive. That proves the zip ships everything the driver needs (rules,
the failed-id take-k, violation store code), not just the CLI shim.
``check`` and ``transcripts`` plan no Python evaluation node (the
failed-id take-k is a window limit), so they start no executor Python
worker: no test here exercises the zip inside executor Python any more.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on PATH"
)


@pytest.fixture(scope="module")
def deploy_dir(tmp_path_factory):
    """Scratch deploy dir: the py-files zip + the driver script, and
    nothing else — importing ``datacheck_spark`` any way other than
    from the zip must fail."""
    d = tmp_path_factory.mktemp("submit_deploy")
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from make_pyfiles_zip import build

        build(str(d / "datacheck_spark.zip"))
    finally:
        sys.path.pop(0)
    shutil.copy(
        os.path.join(REPO, "datacheck_spark", "cli.py"), d / "driver_cli.py"
    )
    return d


def _submit(deploy_dir, cli_args, timeout=240):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[2]",
        "--conf",
        "spark.ui.enabled=false",
        "--conf",
        "spark.sql.shuffle.partitions=4",
        "--py-files",
        "datacheck_spark.zip",
        "driver_cli.py",
        *cli_args,
    ]
    return subprocess.run(
        cmd,
        cwd=str(deploy_dir),
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_submit_check_clean_parquet(deploy_dir):
    """check over real parquet: exit 0, report written, every rule of
    the default suite reported. All of them are JVM expressions and all
    500 rows pass, so this check starts no executor Python worker."""
    report = deploy_dir / "report.json"
    proc = _submit(
        deploy_dir,
        [
            "check",
            "/root/testdata/sf0.001/documents.parquet",
            "-f",
            "json",
            "-o",
            str(report),
        ],
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    data = json.loads(report.read_text())
    assert data["summary"]["total_samples"] == 500
    assert data["summary"]["pass_rate"] == "100.0%"
    assert "repetitive_text" in data["rule_results"]  # last builtin rule


def test_submit_strict_gate_exits_nonzero(deploy_dir):
    """CI gating travels through spark-submit: --strict + a planted
    PII warning must surface as a nonzero process exit. The failing row
    runs the failed-id take-k, a JVM window limit: this job starts no
    executor Python worker, so it does not exercise the zip there."""
    dirty = deploy_dir / "dirty.jsonl"
    rows = [{"id": str(i), "text": f"clean row {i}"} for i in range(9)]
    rows.append({"id": "9", "text": "contact alice@example.com now"})
    dirty.write_text("".join(json.dumps(r) + "\n" for r in rows))
    proc = _submit(deploy_dir, ["check", str(dirty), "--strict"])
    assert proc.returncode == 1, (proc.returncode, proc.stderr[-2000:])


def test_submit_transcripts_flagship_with_checkpoint(spark, deploy_dir):
    """The north-rule flagship: transcripts validation into the
    resumable violation store, deployed via --py-files. The store's
    line covers every data file and holds the direct run's violation
    count; the full-table report follows."""
    from datacheck_spark.transcripts import (
        TranscriptChecker,
        generate_transcripts,
    )

    data = str(deploy_dir / "transcripts.parquet")
    generate_transcripts(spark, n_convs=200, turns_per_conv=5).write.parquet(
        data
    )
    df = spark.read.parquet(data)
    ckpt = str(deploy_dir / "ckpt")
    proc = _submit(
        deploy_dir,
        ["transcripts", data, "--checkpoint", ckpt],
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [
        json.loads(ln)
        for ln in proc.stdout.splitlines()
        if ln.startswith("{")
    ]
    store = next(ln for ln in lines if "live" in ln)
    assert store["live"]["files"] == len(df.inputFiles())
    assert store["live"]["violations"] == TranscriptChecker().violations(
        df
    ).count()
    assert store["trend"]
    report_line = next(ln for ln in lines if "total_turns" in ln)
    assert report_line["total_turns"] > 0
    assert 0.0 < report_line["pass_rate"] <= 1.0
