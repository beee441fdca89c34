"""Scripts and examples import only names the package still has.

They run outside the suite, so a deleted or renamed function would
otherwise surface only when someone next runs them. The scan is
textual, so it also covers the code that scale benches ship to
spark-submit as `LEG_CODE` strings."""

import importlib
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
_FROM_IMPORT = re.compile(r"from\s+(cordon_spark(?:\.\w+)*)\s+import\s+(\([^)]*\)|[^\n]+)")


def _imports():
    for path in sorted([*ROOT.glob("scripts/*.py"), *ROOT.glob("examples/*.py")]):
        for mod, names in _FROM_IMPORT.findall(path.read_text()):
            for name in re.sub(r"#[^\n]*", "", names).strip("()").split(","):
                if name.strip():
                    yield path.relative_to(ROOT), mod, name.split()[0]


def _resolves(mod: str, name: str) -> bool:
    if hasattr(importlib.import_module(mod), name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_and_example_imports_resolve():
    found = list(_imports())
    assert len(found) > 40  # the scan sees the scripts' imports at all
    missing = [f"{p}: from {m} import {n}" for p, m, n in found if not _resolves(m, n)]
    assert not missing, missing
