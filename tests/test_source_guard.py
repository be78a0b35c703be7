"""Source guard: module-level memos go through runtime.KeyedCache.

A hand-rolled module cache brings its own lock and its own eviction loop,
and each copy can get them wrong (an eviction that iterates the dict
while another thread drops an entry outside the lock raises).  This
walks the package's AST — no Spark, no imports of the package — and
fails on either sign of one outside runtime.py: a module-level
``threading.Lock()`` / ``RLock()`` binding, or the ``next(iter(...))``
oldest-entry eviction idiom."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "dataintegration_ecomprovider_spark"
)


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
