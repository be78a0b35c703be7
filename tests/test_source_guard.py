"""Source guards over the package's AST — no Spark, no package import.

1. Module-level memos go through runtime.KeyedCache.  A hand-rolled
   module cache brings its own lock and its own eviction loop, and each
   copy can get them wrong (an eviction that iterates the dict while
   another thread drops an entry outside the lock raises).  The guard
   fails on either sign of one outside runtime.py: a module-level
   ``threading.Lock()`` / ``RLock()`` binding, or the ``next(iter(...))``
   oldest-entry eviction idiom.

2. Every top-level package definition has a caller outside ``tests/``.
   A path that only its own tests reach is a second path beside a live
   one; it goes, and its tests with it.  The only exemptions are the
   reference capabilities listed in UNCALLED_REFERENCE_CAPABILITIES.

3. A manifest entry becomes a reader's whole-table frame in one place,
   ``publish._read_logical``, which serves merge-on-read entries from
   ``publish.MOR_READS``.  A ``_logical_view(entry, _read_entry(...))``
   written out anywhere else is a read that skips that cache."""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "dataintegration_ecomprovider_spark"


def _is_lock_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("Lock", "RLock")
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "threading"
    )


def _is_next_iter(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "next"
        and len(node.args) >= 1
        and isinstance(node.args[0], ast.Call)
        and isinstance(node.args[0].func, ast.Name)
        and node.args[0].func.id == "iter"
    )


def hand_rolled_cache_sites(package: pathlib.Path = PACKAGE) -> list[str]:
    """`path:line what` for every flagged site outside runtime.py."""
    sites = []
    for path in sorted(package.rglob("*.py")):
        if path == package / "runtime.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        rel = path.relative_to(package.parent)
        for stmt in tree.body:
            value = getattr(stmt, "value", None)
            if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and _is_lock_call(
                value
            ):
                sites.append(f"{rel}:{stmt.lineno} module-level lock")
        for node in ast.walk(tree):
            if _is_next_iter(node):
                sites.append(f"{rel}:{node.lineno} next(iter(...)) eviction")
    return sites


def test_no_hand_rolled_module_caches():
    assert hand_rolled_cache_sites() == []


def test_guard_flags_both_idioms(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "runtime.py").write_text("import threading\n_L = threading.Lock()\n")
    (pkg / "memo.py").write_text(
        "import threading\n"
        "_CACHE = {}\n"
        "_LOCK = threading.Lock()\n"
        "_TMP_ROOTS: set = set()\n"
        "class Holder:\n"
        "    def __init__(self):\n"
        "        self._mu = threading.RLock()\n"
        "def put(k, v):\n"
        "    _CACHE[k] = v\n"
        "    while len(_CACHE) > 4:\n"
        "        _CACHE.pop(next(iter(_CACHE)))\n"
    )
    assert hand_rolled_cache_sites(pkg) == [
        "pkg/memo.py:3 module-level lock",
        "pkg/memo.py:11 next(iter(...)) eviction",
    ]


# --- one whole-table read path ----------------------------------------------


def _calls(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == name
    )


def uncached_read_sites(package: pathlib.Path = PACKAGE) -> list[str]:
    """`path:line` of every ``_logical_view(..., _read_entry(...))`` call
    outside the body of ``_read_logical``."""
    sites = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        helper = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "_read_logical"
            for n in ast.walk(f)
        }
        rel = path.relative_to(package.parent)
        for node in ast.walk(tree):
            if (
                _calls(node, "_logical_view")
                and id(node) not in helper
                and any(_calls(a, "_read_entry") for a in node.args)
            ):
                sites.append(f"{rel}:{node.lineno}")
    return sites


def test_whole_table_reads_go_through_one_helper():
    assert uncached_read_sites() == []


def test_read_guard_flags_the_pair_outside_the_helper(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "store.py").write_text(
        "def _read_logical(spark, entry):\n"
        "    def build():\n"
        "        return _logical_view(entry, _read_entry(spark, entry))\n"
        "    return build()\n"
        "def read_table(spark, entry):\n"
        "    return _logical_view(entry, _read_entry(spark, entry))\n"
        "def rename(spark, entry):\n"
        "    return _logical_view(entry, _scan_entry(spark, entry))\n"
    )
    assert uncached_read_sites(pkg) == ["pkg/store.py:6"]


# --- reachability -----------------------------------------------------------
# Reference capabilities that have no caller in the package, scripts or
# benchmark yet.  Each stays until a query or job gives it one; the value
# cites the reference behaviour it reproduces.
UNCALLED_REFERENCE_CAPABILITIES = {
    **{
        f"plans/jobspec.py::{name}": "job persistence: SaveAsXml, "
        "src/EcomProvider.cs:706-732"
        for name in (
            "save_job", "load_job", "job_to_json", "job_from_json",
            "mapping_to_dict", "mapping_from_dict", "rule_to_dict",
            "rule_from_dict", "_column_sql",
        )
    },
    "operators/resolve.py::fail_on_missing": "FailOnMissingGroups, "
    "src/EcomProvider.cs:1002-1005",
    "operators/resolve.py::MissingReferencesError": "FailOnMissingGroups, "
    "src/EcomProvider.cs:1002-1005",
    "operators/pivot.py::category_field_columns": "ProductCategory|cat|field "
    "column naming, src/EcomSourceReader.cs:271-272",
    "sources/readers.py::XmlSource": "XML feed provider of the "
    "DataIntegration suite (COVERAGE.md, XML + ORC sources)",
    "sources/readers.py::OrcSource": "XML + ORC sources (COVERAGE.md)",
    "operators/string_agg.py::grouped_string_agg": "A1 ordered string-agg, "
    "src/EcomSourceReader.cs:336-352",
    "operators/metrics.py::with_row_metrics": "A7 progress metrics, "
    "src/EcomDestinationWriter.cs:1196-1204",
    "streaming/incremental.py::merge_each_batch": "re-run-the-job "
    "incremental import, src/EcomProvider.cs:937-966",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _names(nodes) -> set[str]:
    """Every name the nodes mention: identifiers, attribute names,
    imported names, and identifier-shaped words inside string literals
    (registries and scripts look functions up by name)."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.alias):
                out.add(sub.name.rsplit(".", 1)[-1])
            elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                out.update(_WORD.findall(sub.value))
    return out


def _import_time_parts(node: ast.AST) -> list:
    """What a top-level def/class evaluates when its module is imported:
    decorators and defaults, or decorators, bases and keywords."""
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        return parts + node.bases + [k.value for k in node.keywords]
    args = node.args
    return parts + args.defaults + [d for d in args.kw_defaults if d]


def unreached_definitions(
    package: pathlib.Path = PACKAGE, root_files=None
) -> list[str]:
    """`module.py::name` of every top-level package definition that no
    root reaches by name closure.  Roots: each package module's
    module-level statements (so every QUERIES registry, retired entries
    included) plus `root_files` (default: bench.py, __spark_entry__.py,
    perfbench/ and scripts/)."""
    if root_files is None:
        root_files = [
            package.parent / "bench.py",
            package.parent / "__spark_entry__.py",
            *sorted((package.parent / "perfbench").rglob("*.py")),
            *sorted((package.parent / "scripts").rglob("*.py")),
        ]
    defs: dict[str, list] = {}
    roots: set[str] = set()
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((rel, stmt))
                roots |= _names(_import_time_parts(stmt))
            else:
                roots |= _names([stmt])
    for path in root_files:
        roots |= _names([ast.parse(path.read_text(encoding="utf-8"), str(path))])

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _names([node]) if n in defs and n not in reached)
    return sorted(
        f"{rel}::{name}"
        for name, sites in defs.items()
        if name not in reached
        for rel, _ in sites
    )


def test_every_package_definition_has_a_caller_outside_tests():
    unreached = unreached_definitions()
    assert sorted(set(unreached) - set(UNCALLED_REFERENCE_CAPABILITIES)) == []
    # an exemption whose definition gained a caller (or went) is stale
    assert sorted(set(UNCALLED_REFERENCE_CAPABILITIES) - set(unreached)) == []


def test_reachability_follows_registries_imports_and_strings(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "ops.py").write_text(
        "def live():\n    return _helper()\n"
        "def _helper():\n    return 1\n"
        "def by_name():\n    return 2\n"
        "def reexported():\n    return 3\n"
        "def test_only():\n    return _test_helper()\n"
        "def _test_helper():\n    return 4\n"
        "class Base:\n    pass\n"
        "class Child(Base):\n    pass\n"
    )
    (pkg / "registry.py").write_text(
        "from pkg import ops\n"
        "QUERIES = {'q': ops.live}\n"
    )
    (pkg / "__init__.py").write_text("from pkg.ops import reexported\n")
    script = tmp_path / "script.py"
    script.write_text(
        "import pkg.ops\n"
        "getattr(pkg.ops, 'by_name')()\n"
        "pkg.ops.Child()\n"
    )
    assert unreached_definitions(pkg, [script]) == [
        "ops.py::_test_helper", "ops.py::test_only",
    ]
