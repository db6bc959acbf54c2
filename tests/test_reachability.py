"""Guard against regrowth of code that only tests call.

Pure AST, no Spark.  Every top-level def, class and constant of the
package must be reachable from the program's entry points, unless it
sits on the explicit allowlist below with its reason.

Reachability is a transitive closure over names.  It is seeded from
the roots (``ROOT_NAMES``, ``@register``-ed queries, the public names
of ``ROOT_MODULES``), the allowlist, every reference in the use sites
outside the package, and every reference in package code that runs
on import (a top-level statement that is neither a definition nor an
import).  From there it follows the references of reached definitions
only, so a name used only by another unreached name is unreached too.
A reference is a ``Name``, an ``Attribute`` or an import alias; a
mention in a string or docstring is not one, and a package module's
top-level ``import`` is not a use.  Names are not resolved to modules:
a reached name reaches every definition that bears it.

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

#: files and directories whose references seed the closure
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
ROOT_NAMES = {"main", "build_lake"}

#: test-only names kept on purpose, each with the reason
ALLOWLIST = {
    ("plans/audit.py", "has_pushed_filter"): "plan-audit API for a job's own plan pins; a property the ledger's counts do not carry",
    ("plans/audit.py", "is_equi_join_only"): "plan-audit API for a job's own plan pins; a property the ledger's counts do not carry",
    ("plans/audit.py", "whole_stage_codegen_spans"): "plan-audit API for a job's own plan pins; a property the ledger's counts do not carry",
    ("sources/compaction.py", "partition_file_stats"): "the compaction tests measure compact_partition with it",
    ("streaming/session_stream.py", "foreach_batch_upsert_parquet"): "the paper's sessionized-table sink surface",
    ("streaming/session_stream.py", "foreach_batch_jdbc"): "the paper's sessionized-Postgres sink surface",
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
    """(definitions, seeds): definitions maps (module, name) to its
    top-level statement; seeds is every name referenced outside the
    package or by package code that runs on import."""
    definitions = {}
    seeds = set()
    for site in USE_SITES:
        for path in _py_files(site):
            tree = ast.parse(path.read_text(), filename=str(path))
            if PACKAGE not in path.parents:
                seeds |= _references(tree)
                continue
            rel = path.relative_to(PACKAGE).as_posix()
            for node in tree.body:
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue  # an import is not a use
                own = _defined_names(node)
                for name in own:
                    definitions[(rel, name)] = node
                if not own:
                    seeds |= _references(node)
    return definitions, seeds


def _is_root(rel: str, name: str, node: ast.stmt) -> bool:
    if name.startswith("__") and name.endswith("__"):
        return True
    if name in ROOT_NAMES or _is_registered(node):
        return True
    return rel in ROOT_MODULES and not name.startswith("_")


def _reached(allowlisted: bool) -> tuple[dict, set[str]]:
    """(definitions, reached): every name the closure reaches from the
    seeds, the roots and, when ``allowlisted``, the allowlist."""
    definitions, seeds = _scan()
    definitions_of = {}
    for (_, name), node in definitions.items():
        definitions_of.setdefault(name, []).append(node)
    todo = list(seeds)
    todo += [n for (rel, n), node in definitions.items() if _is_root(rel, n, node)]
    if allowlisted:
        todo += [name for _, name in ALLOWLIST]
    reached = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for node in definitions_of.get(name, ()):
                todo.extend(_references(node))
    return definitions, reached


def test_every_package_name_has_a_non_test_caller():
    definitions, reached = _reached(allowlisted=True)
    assert definitions, "no package definitions found"
    unreached = sorted(
        f"{rel}:{name}" for rel, name in definitions if name not in reached
    )
    assert not unreached, (
        "names no entry point reaches (delete them, or allowlist one "
        f"with its reason): {unreached}"
    )


def test_allowlist_names_exist_and_are_still_unreached():
    """An allowlisted name that was deleted, or that an entry point
    now reaches, must leave the allowlist."""
    definitions, reached = _reached(allowlisted=False)
    stale = sorted(
        f"{rel}:{name}"
        for rel, name in ALLOWLIST
        if (rel, name) not in definitions or name in reached
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
