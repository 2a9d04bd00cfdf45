"""The CLI and the tool API decide once what a path and a ruleset name
mean: ``sources.load_data`` opens every path (no ``spark.read`` in
``cli.py`` or ``api.py``), ``rules.compiler.resolve_ruleset`` maps
every ruleset name, and ``ValidationSchema.from_file`` reads every
schema file."""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "datacheck_spark"


def _sources() -> dict:
    return {
        str(p.relative_to(PKG)): p.read_text(encoding="utf-8")
        for p in sorted(PKG.rglob("*.py"))
    }


def test_cli_and_api_open_paths_through_load_data():
    for name in ("cli.py", "api.py"):
        assert "spark.read" not in (PKG / name).read_text(encoding="utf-8")


def test_preset_names_map_to_rulesets_in_one_place():
    srcs = _sources()
    maps = [f for f, text in srcs.items() if re.search(r"[\"']sft[\"']\s*:", text)]
    assert maps == ["rules/compiler.py"]
    for name in ("cli.py", "api.py"):
        assert not re.search(r"get_(sft|preference|annotation)_ruleset", srcs[name]), name


def test_schema_files_are_read_in_one_place():
    reads = [
        f for f, text in _sources().items()
        if re.search(r"from_dict\(\s*_?json\.load", text)
    ]
    assert reads == ["schema.py"]
