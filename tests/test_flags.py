"""No boolean option that only tests set, and no public name that only
tests reach.

A public function's boolean parameter whose non-default value is passed
by keyword under ``tests/`` but nowhere else (the package, ``bench.py``,
``tools/``, ``examples/``, ``perfbench/``) keeps a second path that no
workload runs. Tests reach a reference path through a private seam
instead (a monkeypatched helper or constant). The allow-list holds the
flags left on purpose.

Likewise a public top-level function, class or constant of the package
that no code outside the tests names is code only its own tests run.
Registered queries (``harness/queries_*``) are reached through the
registry and are not scanned as definitions. ``UNREACHED_OK`` holds the
names left on purpose, each with its reason.

And no package module imports a name it never uses."""

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

UNREACHED_OK = {
    # Reference twins that tests compare an operator against.
    "asof_join_cogroup": "reference twin of asof_join (test_asof_props)",
    "with_ivf_cell": "reference twin of with_ivf_cell_np",
    "independence_chi2": "reference twin of grouped_independence_chi2",
    # Kept on purpose: a regime, a SQL surface and a test seam.
    "learn_bpe_merges_local": "driver-loop regime for many merges; learn_bpe_merges is its twin",
    "TopTokensUDTF": "the one analyze-time-schema UDTF, for SQL callers",
    "register_udtfs": "registers TopTokensUDTF for SQL callers",
    "resize_images": "test seam: no image library is installed",
    # Paper steps (SURVEY.md) that no workload here runs.
    "land_url": "S5 landing: fetch a daily CSV into the landing zone",
    "read_jdbc": "S4 JDBC scan of the population source",
    "IcebergWarehouse": "§1.1 Iceberg tables, gated on the runtime jar",
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


def _public_defs() -> set[str]:
    """Public top-level functions, classes and assigned names of the
    package, registered query modules and ``__init__`` re-exports left
    out."""
    names = set()
    for path in PACKAGE.rglob("*.py"):
        if path.name == "__init__.py" or path.name.startswith("queries_"):
            continue
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bound = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                bound = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                continue
            names.update(n for n in bound if not n.startswith("_"))
    return names


def _foreign_imports(tree: ast.Module) -> set[str]:
    """Names the file binds by importing from outside the package
    (``np``, ``F``, ``pq``)."""
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound |= {
                a.asname or a.name.split(".")[0]
                for a in node.names
                if a.name.split(".")[0] != PACKAGE.name
            }
        elif isinstance(node, ast.ImportFrom):
            if node.level == 0 and node.module.split(".")[0] != PACKAGE.name:
                bound |= {a.asname or a.name for a in node.names}
    return bound


def _root(node: ast.expr) -> ast.expr:
    while isinstance(node, ast.Attribute):
        node = node.value
    return node


def _referenced(files) -> set[str]:
    """Every name read, attribute and imported name the files use. An
    attribute of a module imported from outside the package
    (``pq.read_table``) names that module's member, not ours."""
    found = set()
    for path in files:
        tree = _parse(path)
        foreign = _foreign_imports(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                found.add(node.id)
            elif isinstance(node, ast.Attribute):
                root = _root(node)
                if not (isinstance(root, ast.Name) and root.id in foreign):
                    found.add(node.attr)
            elif isinstance(node, ast.alias):
                found.add(node.name.rsplit(".", 1)[-1])
    return found


def test_no_public_name_only_tests_reach():
    defs = _public_defs()
    assert defs, "no public definitions found: the scan is broken"
    files = [p for d in SOURCES for p in d.rglob("*.py")] + list(SCRIPTS)
    others = [
        p for p in files
        if not _is_test_file(p) and not (p.name == "__init__.py" and PACKAGE in p.parents)
    ]
    unreached = defs - _referenced(others)
    assert unreached - UNREACHED_OK.keys() == set(), (
        "public names no code outside the tests reaches: give each a "
        "caller or delete it"
    )
    assert UNREACHED_OK.keys() <= unreached, (
        "an allow-listed name is gone or has a caller: take it off UNREACHED_OK"
    )


def _unused_imports(path: pathlib.Path) -> list[str]:
    """Top-level imports of one module that bind a name the module never
    reads, except on a line marked ``# noqa: F401``."""
    tree = _parse(path)
    lines = path.read_text().splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    unused = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        for a in node.names:
            marked = {lines[node.lineno - 1], lines[a.lineno - 1]}
            if any("# noqa: F401" in line for line in marked):
                continue
            name = a.asname or a.name.split(".")[0]
            if name not in used:
                unused.append(f"{path.relative_to(ROOT)}:{a.lineno} {name}")
    return unused


def test_no_package_module_imports_an_unused_name():
    modules = [p for p in PACKAGE.rglob("*.py") if p.name != "__init__.py"]
    assert modules, "no package modules found: the scan is broken"
    unused = [u for p in sorted(modules) for u in _unused_imports(p)]
    assert unused == [], "imports bound but never used: delete them"
