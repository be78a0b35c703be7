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
   one; it goes, and its tests with it.  A caller is code: a string
   counts only when the whole string is a name or a dotted name (what
   ``getattr`` and attribute-path lookups take), so a docstring, comment
   or message that mentions a definition keeps nothing alive.  The only
   exemptions are listed in EXEMPT_DEFINITIONS, each value opening with
   its reason class: test oracle, test seam, fault surface or reference
   capability.

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
# Definitions kept with no caller in the package, scripts or benchmark.
# Each value opens with its reason class (EXEMPT_CLASSES): a test oracle
# or test seam that tests compare against or substitute through, a fault
# surface that reports or resets recorded failures, or a reference
# capability that stays until a query or job gives it a caller.
EXEMPT_CLASSES = (
    "test oracle", "test seam", "fault surface", "reference capability",
)
EXEMPT_DEFINITIONS = {
    "llm/dedup.py::_mix": "test oracle: the per-hash Column form that "
    "test_llm compares _min_mix_sql against",
    "operators/merge.py::upsert_two_pass": "test oracle: the two-pass "
    "cross-check for upsert",
    "plans/commit_protocol.py::InMemoryCasProtocol": "test seam: an "
    "in-memory compare-and-swap store for commit races",
    "plans/commit_protocol.py::set_protocol": "test seam: installs a "
    "commit protocol such as InMemoryCasProtocol",
    "plans/materialize.py::view_refresh_errors": "fault surface: the "
    "recorded declared-view refresh failures",
    "plans/materialize.py::clear_view_errors": "fault surface: resets the "
    "recorded declared-view refresh failures",
    "plans/publish.py::last_txn": "fault surface: the highest committed "
    "txn id of an application, read to resume after a crash",
    "sources/readers.py::JdbcSource": "reference capability: SQL Server "
    "read, LoadReaderFromDatabase, src/EcomSourceReader.cs:151-226",
    "sources/writers.py::JdbcSink": "reference capability: SQL Server "
    "bulk staging + upsert, src/EcomDestinationWriter.cs:60,3027,3280",
    "operators/bucketing.py::drop_staging_tables": "reference capability: "
    "temp-table drop, src/EcomDestinationWriter.cs:4167-4182",
    **{
        f"plans/jobspec.py::{name}": "reference capability: job "
        "persistence, SaveAsXml, src/EcomProvider.cs:706-732"
        for name in (
            "save_job", "load_job", "job_to_json", "job_from_json",
            "mapping_to_dict", "mapping_from_dict", "rule_to_dict",
            "rule_from_dict", "_column_sql",
        )
    },
    "operators/resolve.py::fail_on_missing": "reference capability: "
    "FailOnMissingGroups, src/EcomProvider.cs:1002-1005",
    "operators/resolve.py::MissingReferencesError": "reference capability: "
    "FailOnMissingGroups, src/EcomProvider.cs:1002-1005",
    "operators/pivot.py::category_field_columns": "reference capability: "
    "ProductCategory|cat|field column naming, "
    "src/EcomSourceReader.cs:271-272",
    "streaming/incremental.py::merge_each_batch": "reference capability: "
    "re-run-the-job incremental import, src/EcomProvider.cs:937-966",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_DOTTED_NAME = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _names(nodes) -> set[str]:
    """Every name the nodes mention: identifiers, attribute names,
    imported names, and string literals that are wholly a name or a
    dotted name, split at the dots (registries and scripts look functions
    up by name: ``getattr(mod, "fn")``, ``"Catalog.table"``).  Prose —
    docstrings, comments, messages — names nothing."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.alias):
                out.add(sub.name.rsplit(".", 1)[-1])
            elif (
                isinstance(sub, ast.Constant)
                and isinstance(sub.value, str)
                and _DOTTED_NAME.fullmatch(sub.value)
            ):
                out.update(sub.value.split("."))
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
    assert sorted(set(unreached) - set(EXEMPT_DEFINITIONS)) == []
    # an exemption whose definition gained a caller (or went) is stale
    assert sorted(set(EXEMPT_DEFINITIONS) - set(unreached)) == []
    assert [
        key for key, why in EXEMPT_DEFINITIONS.items()
        if not why.startswith(tuple(f"{c}: " for c in EXEMPT_CLASSES))
    ] == []


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
        "def documented():\n    return 5\n"
        "def in_message():\n    return 6\n"
        "class Holder:\n    def method(self):\n        return 7\n"
    )
    (pkg / "registry.py").write_text(
        "from pkg import ops\n"
        "QUERIES = {'q': ops.live}\n"
        "def describe():\n"
        '    """Like documented, but cheaper."""\n'
        "    raise ValueError('no plan; see in_message for one')\n"
        "HELP = describe\n"
        "WRAPPED = ['Holder.method']\n"
    )
    (pkg / "__init__.py").write_text("from pkg.ops import reexported\n")
    script = tmp_path / "script.py"
    script.write_text(
        "import pkg.ops\n"
        "getattr(pkg.ops, 'by_name')()\n"
        "pkg.ops.Child()\n"
    )
    # prose names nothing: a docstring or a longer message string
    # mentioning a definition leaves it unreached, while the dotted
    # attribute path reaches Holder
    assert unreached_definitions(pkg, [script]) == [
        "ops.py::_test_helper", "ops.py::documented", "ops.py::in_message",
        "ops.py::test_only",
    ]
