"""No boolean option that only tests set.

A public function's boolean parameter whose non-default value is passed
by keyword under ``tests/`` but nowhere else (the package, ``bench.py``,
``tools/``, ``examples/``, ``perfbench/``) keeps a second path that no
workload runs. Tests reach a reference path through a private seam
instead (a monkeypatched helper or constant). The allow-list holds the
flags left on purpose."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "covid_data_pipeline_spark"
SOURCES = (PACKAGE, ROOT / "tools", ROOT / "examples", ROOT / "perfbench", ROOT / "tests")
SCRIPTS = (ROOT / "bench.py", ROOT / "__spark_entry__.py")

ALLOWED = {
    # Changes the result (HLL++ distinct counts), not the path to it.
    ("profile_columns", "approx"),
    # Changes the result (closes keys missing from the snapshot).
    ("scd2_apply", "close_missing"),
    # Test seam: no image library is installed to decode real images.
    ("resize_images", "fake"),
}


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _bool_flags() -> dict[tuple[str, str], bool]:
    """(function, parameter) -> default, for every public function of
    the package with a ``True``/``False`` default."""
    flags = {}
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(_parse(path)):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for param, default in pairs:
                if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                    flags[(node.name, param.arg)] = default.value
    return flags


def _non_default_sets(files, flags) -> set[tuple[str, str]]:
    """Flags passed by keyword with anything but their default literal."""
    found = set()
    for path in files:
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for kw in node.keywords:
                key = (name, kw.arg)
                if key not in flags:
                    continue
                v = kw.value
                if not (isinstance(v, ast.Constant) and v.value is flags[key]):
                    found.add(key)
    return found


def _is_test_file(path: pathlib.Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or path.name.startswith("test_")


def test_no_flag_is_set_only_by_tests():
    flags = _bool_flags()
    assert flags, "no boolean defaults found: the scan is broken"
    files = [p for d in SOURCES for p in d.rglob("*.py")] + list(SCRIPTS)
    tests = _non_default_sets([p for p in files if _is_test_file(p)], flags)
    others = _non_default_sets([p for p in files if not _is_test_file(p)], flags)
    test_only = tests - others
    assert test_only - ALLOWED == set(), (
        "boolean flags set to a non-default value only by tests: delete "
        "the flag and reach the other path through a private seam"
    )
    assert ALLOWED <= test_only, "an allow-listed flag is gone or set elsewhere"
