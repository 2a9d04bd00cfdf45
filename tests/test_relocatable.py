"""The checkout must not depend on where it lives: no tracked Python
file may name the checkout's own absolute path (derive paths from
``__file__`` instead)."""

import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _python_files() -> list:
    try:
        out = subprocess.run(
            ["git", "ls-files", "-z", "--", "*.py"],
            cwd=ROOT, capture_output=True, check=True,
        ).stdout
        return [ROOT / p for p in out.decode().split("\0") if p]
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return [p for p in ROOT.rglob("*.py") if ".git" not in p.parts]


def test_no_python_file_names_the_checkout_path():
    files = _python_files()
    assert files
    offenders = [
        str(p.relative_to(ROOT))
        for p in files
        if p.is_file() and str(ROOT) in p.read_text(encoding="utf-8", errors="replace")
    ]
    assert offenders == []
