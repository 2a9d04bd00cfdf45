"""The benchmark's tracer wraps library functions and methods by name
(``perfbench/tracing.py``). A rename or move must not leave a hook
pointing at nothing, which would break ``perfbench/run.py --trace 1``
without failing any other test."""

import importlib
import importlib.util
import sys
from pathlib import Path

TRACING = Path(__file__).resolve().parent.parent / "perfbench" / "tracing.py"


def _tracing():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod


def test_traced_functions_resolve():
    missing = [
        f"{module}.{attr}"
        for module, attr, *_ in _tracing()._FUNCTIONS
        if not callable(getattr(importlib.import_module(module), attr, None))
    ]
    assert missing == []


def test_traced_methods_are_defined_on_their_class():
    missing = [
        f"{module}.{cls}.{meth}"
        for module, cls, meth, *_ in _tracing()._METHODS
        if meth not in vars(getattr(importlib.import_module(module), cls))
    ]
    assert missing == []
