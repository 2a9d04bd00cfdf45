"""CI-gate packaging drive tests: the pre-commit hook entry and the
multi-file `check` surface it relies on (reference ships a hook +
GitHub Actions example: ``.pre-commit-hooks.yaml:1-6``,
``examples/github-actions/data-quality.yml``)."""

import json
import re
from pathlib import Path

from datacheck_spark.cli import main

ROOT = Path(__file__).resolve().parents[1]


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return path


def _good_rows(n=10):
    return [
        {"id": f"g{i}", "text": f"perfectly reasonable sample text {i}"}
        for i in range(n)
    ]


def _bad_rows(n=10):
    # blank text trips non_empty on every row -> pass_rate 0
    return [{"id": f"b{i}", "text": "   "} for i in range(n)]


def _hook_entry_args():
    """Parse .pre-commit-hooks.yaml and return the entry's argv prefix
    with the console script swapped for the in-process main()."""
    text = (ROOT / ".pre-commit-hooks.yaml").read_text()
    m = re.search(r"entry:\s*(\S+)\s+(\S+)", text)
    assert m, "hook entry missing"
    script, subcmd = m.group(1), m.group(2)
    assert script == "datacheck-spark"
    # pyproject must map that console script to cli:main
    py = (ROOT / "pyproject.toml").read_text()
    assert 'datacheck-spark = "datacheck_spark.cli:main"' in py
    return [subcmd]


def test_hook_entry_passes_on_clean_files(spark, tmp_path, capsys):
    f1 = _write_jsonl(tmp_path / "a.jsonl", _good_rows())
    f2 = _write_jsonl(tmp_path / "b.jsonl", _good_rows())
    rc = main(_hook_entry_args() + [str(f1), str(f2), "--threshold", "0.5"])
    capsys.readouterr()
    assert rc == 0


def test_hook_entry_fails_on_dirty_file(spark, tmp_path, capsys):
    f1 = _write_jsonl(tmp_path / "a.jsonl", _good_rows())
    f2 = _write_jsonl(tmp_path / "bad.jsonl", _bad_rows())
    rc = main(_hook_entry_args() + [str(f1), str(f2), "--threshold", "0.5"])
    out = capsys.readouterr().out
    assert rc == 1
    # per-file accounting keyed by the paths as given
    assert "bad.jsonl" in out


def test_hook_entry_strict_fails_on_warnings(spark, tmp_path, capsys):
    # long repeated text trips a WARNING-severity rule but not errors
    rows = _good_rows(8) + [
        {"id": "w1", "text": "repeat me now. " * 60}
    ]
    f1 = _write_jsonl(tmp_path / "warn.jsonl", rows)
    rc_loose = main(_hook_entry_args() + [str(f1), str(f1), "--threshold", "0.1"])
    capsys.readouterr()
    rc_strict = main(
        _hook_entry_args() + [str(f1), str(f1), "--threshold", "0.1", "--strict"]
    )
    capsys.readouterr()
    assert rc_loose == 0
    assert rc_strict == 1


def test_check_files_result_shape(spark, tmp_path):
    from datacheck_spark.sources import check_files

    f1 = _write_jsonl(tmp_path / "x.jsonl", _good_rows(5))
    missing = tmp_path / "nope.jsonl"
    out = check_files(spark, [str(f1), str(missing)])
    assert out["success"] is True
    assert out["total_files"] == 1
    assert str(f1) in out["file_results"]
    assert out["file_results"][str(f1)]["pass_rate"] == 1.0
    assert any("nope.jsonl" in s for s in out["skipped_files"])


def test_check_files_relative_json_duplicate_basenames(
    spark, tmp_path, monkeypatch
):
    """The pre-commit case: hooks pass repo-RELATIVE paths. Two staged
    .json files with the same basename in different directories must
    each keep their own per-file row — before the absolute-path tagging
    fix, both fell back to the basename, one overwrote the other, and a
    failing file could be masked from the threshold gate."""
    from datacheck_spark.sources import check_files

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "a" / "data.json").write_text(json.dumps(_good_rows(5)))
    (tmp_path / "b" / "data.json").write_text(json.dumps(_bad_rows(5)))
    monkeypatch.chdir(tmp_path)
    out = check_files(spark, ["a/data.json", "b/data.json"])
    assert out["total_files"] == 2
    assert set(out["file_results"]) == {"a/data.json", "b/data.json"}
    assert out["file_results"]["a/data.json"]["pass_rate"] == 1.0
    assert out["file_results"]["b/data.json"]["pass_rate"] == 0.0


def test_multi_file_check_warns_on_ignored_flags_and_lists_files(
    spark, tmp_path, capsys
):
    """--pattern/--sample only apply to directory/single-file mode —
    with an explicit file list they must warn, not silently vanish;
    and the files-mode report must name its inputs instead of an empty
    'Directory:' line."""
    f1 = _write_jsonl(tmp_path / "a.jsonl", _good_rows())
    f2 = _write_jsonl(tmp_path / "b.jsonl", _good_rows())
    rc = main([
        "check", str(f1), str(f2), "--pattern", "*.jsonl",
        "--threshold", "0.5",
    ])
    cap = capsys.readouterr()
    assert rc == 0
    assert "--pattern" in cap.err and "ignored" in cap.err
    assert "Directory: ``" not in cap.out
    assert "a.jsonl" in cap.out and "b.jsonl" in cap.out


def test_workflow_example_invokes_gate():
    wf = (ROOT / "examples/github-actions/data-quality.yml").read_text()
    assert "datacheck-spark check" in wf
    assert "--threshold" in wf
    assert "quality-report.json" in wf


def _lower_bounds(requirements):
    """name -> lower-bound version tuple (``()`` when unpinned) of
    ``name`` / ``name>=X.Y`` requirements; anything else is flagged."""
    out = {}
    for req in requirements:
        m = re.fullmatch(r"([A-Za-z0-9_.\-]+)\s*(?:>=\s*([0-9.]+))?", req.strip())
        assert m, f"unsupported requirement {req!r}"
        low = m.group(2)
        out[m.group(1).lower()] = tuple(map(int, low.split("."))) if low else ()
    return out


def test_hook_pins_agree_with_pyproject():
    """A hook's ``additional_dependencies`` must admit no version the
    package's own requirements exclude (``pyspark>=3.5`` against
    ``pyspark>=4.0`` would install a Spark lacking ``Column.try_cast``
    and ``F.try_parse_json``)."""
    import tomllib

    import yaml

    declared = _lower_bounds(
        tomllib.loads((ROOT / "pyproject.toml").read_text())["project"][
            "dependencies"
        ]
    )
    hooks = yaml.safe_load((ROOT / ".pre-commit-hooks.yaml").read_text())
    for hook in hooks:
        pins = _lower_bounds(hook.get("additional_dependencies", []))
        for name, low in pins.items():
            assert low >= declared.get(name, ()), (hook["id"], name, low)
