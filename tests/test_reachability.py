"""Guard against regrowth of code that only tests call.

Pure AST, no Spark.  Every top-level def, class and constant of the
package must be used somewhere outside its own definition and outside
``tests/``, unless it is a root (an entry point the program is driven
through) or sits on the explicit allowlist below with its reason.

A use is an identifier reference: a ``Name``, an ``Attribute`` or an
import alias.  A mention in a string or docstring is not a use, and
neither is a re-export import in a package ``__init__.py``.  The check
is name-level (a name used anywhere counts), not a transitive closure.

Every top-level module those files import must also resolve, so a
deleted script cannot leave a dangling import behind.
"""

from __future__ import annotations

import ast
import importlib.machinery
import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "data_engineering_user_session_analysis_spark"

#: files and directories whose references count as uses
USE_SITES = (
    PACKAGE,
    REPO / "__spark_entry__.py",
    REPO / "sweep_oracle.py",
    REPO / "tools",
    REPO / "perfbench",
)

#: modules that are roots as a whole: each of their public names is an
#: entry point (stream ingest, event replay, serving DDL, JDBC sink)
ROOT_MODULES = (
    "streaming/ingest_stream.py",
    "sources/replay.py",
    "sources/serving_ddl.py",
    "sources/jdbc.py",
)

#: single names that are roots wherever they are defined
ROOT_NAMES = {"main", "build_lake", "prepare_corpus"}

#: test-only names kept on purpose, each with the reason
ALLOWLIST = {
    ("plans/audit.py", "has_pushed_filter"): "plan-audit API for a job's own plan pins; a property the ledger's counts do not carry",
    ("plans/audit.py", "is_equi_join_only"): "plan-audit API for a job's own plan pins; a property the ledger's counts do not carry",
    ("plans/audit.py", "whole_stage_codegen_spans"): "plan-audit API for a job's own plan pins; a property the ledger's counts do not carry",
    ("sources/compaction.py", "partition_file_stats"): "the compaction tests measure compact_partition with it",
    ("streaming/session_stream.py", "foreach_batch_upsert_parquet"): "the paper's sessionized-table sink surface",
    ("streaming/session_stream.py", "foreach_batch_jdbc"): "the paper's sessionized-Postgres sink surface",
    ("queries/tpch_queries.py", "nation_revenue"): "TPC-H query kept beside the registry rows as an operator example",
    ("queries/tpch_queries.py", "customers_no_orders"): "test_anti_join_non_vacuous shows with it why its registry row was retired",
    ("operators/sampling.py", "upsample_by_rate"): "the branch-form reference that apply_mixture's single pass must equal",
}


def _py_files(site: Path) -> list[Path]:
    return sorted(site.rglob("*.py")) if site.is_dir() else [site]


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (
        node.targets
        if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, ast.AnnAssign) else []
    )
    names = []
    for t in targets:
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                names.append(n.id)
    return names


def _is_registered(node: ast.stmt) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "register") or (
            isinstance(f, ast.Attribute) and f.attr == "register"
        ):
            return True
    return False


def _references(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def _scan():
    """(definitions, uses): definitions maps (module, name) to its
    top-level statement; uses is every name referenced outside the
    statement that defines it."""
    definitions = {}
    uses = set()
    for site in USE_SITES:
        for path in _py_files(site):
            tree = ast.parse(path.read_text(), filename=str(path))
            in_package = PACKAGE in path.parents
            rel = path.relative_to(PACKAGE).as_posix() if in_package else None
            for node in tree.body:
                if (
                    in_package
                    and path.name == "__init__.py"
                    and isinstance(node, ast.ImportFrom)
                ):
                    continue  # re-export, not a use
                own = set(_defined_names(node))
                if in_package:
                    for name in own:
                        definitions[(rel, name)] = node
                uses |= _references(node) - own
    return definitions, uses


def _is_root(rel: str, name: str, node: ast.stmt) -> bool:
    if name.startswith("__") and name.endswith("__"):
        return True
    if name in ROOT_NAMES or _is_registered(node):
        return True
    return rel in ROOT_MODULES and not name.startswith("_")


def test_every_package_name_has_a_non_test_caller():
    definitions, uses = _scan()
    assert definitions, "no package definitions found"
    unreached = sorted(
        f"{rel}:{name}"
        for (rel, name), node in definitions.items()
        if name not in uses
        and not _is_root(rel, name, node)
        and (rel, name) not in ALLOWLIST
    )
    assert not unreached, (
        "names with no caller outside tests/ (delete them, or allowlist "
        f"one with its reason): {unreached}"
    )


def test_allowlist_names_exist_and_are_still_unreached():
    """An allowlisted name that was deleted, or that gained a real
    caller, must leave the allowlist."""
    definitions, uses = _scan()
    stale = sorted(
        f"{rel}:{name}"
        for rel, name in ALLOWLIST
        if (rel, name) not in definitions or name in uses
    )
    assert not stale, f"stale allowlist entries: {stale}"


def _resolves(module: str, importer: Path) -> bool:
    """True when ``module`` is found beside ``importer``, at the repo
    root or on ``sys.path``; finding a top-level spec imports nothing."""
    local = importlib.machinery.PathFinder.find_spec(
        module, [str(importer.parent), str(REPO)]
    )
    return local is not None or importlib.util.find_spec(module) is not None


def _guarded_imports(tree: ast.AST) -> set[int]:
    """ids of the import nodes inside a ``try`` that catches
    ``ImportError``: optional dependencies, absent by design."""
    guarded = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Try) and any(
            isinstance(h.type, ast.Name)
            and h.type.id in ("ImportError", "ModuleNotFoundError")
            for h in node.handlers
        ):
            guarded.update(id(n) for stmt in node.body for n in ast.walk(stmt))
    return guarded


def test_every_imported_module_resolves():
    dangling = set()
    for site in USE_SITES:
        for path in _py_files(site):
            tree = ast.parse(path.read_text(), filename=str(path))
            guarded = _guarded_imports(tree)
            for node in ast.walk(tree):
                if id(node) in guarded:
                    continue
                if isinstance(node, ast.Import):
                    tops = [a.name.split(".")[0] for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.level == 0:
                    tops = [node.module.split(".")[0]]
                else:
                    continue
                dangling.update(
                    f"{path.relative_to(REPO)}: {top}"
                    for top in tops
                    if not _resolves(top, path)
                )
    assert not dangling, f"imports of modules that do not exist: {sorted(dangling)}"
