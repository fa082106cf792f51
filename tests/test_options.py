"""Every optional parameter of a top-level package function is passed by
some caller.

A keyword default that no caller in the package, ``tools/``,
``perfbench/`` or ``tests/`` ever sets is a knob with one value in use:
it belongs in a module constant, not in the signature. The scan is an
AST walk over those trees:

- a call counts for every function of the callee's name (``f(...)`` and
  ``x.f(...)`` alike; ``functools.partial(f, ...)`` is a call of ``f``);
- a keyword argument passes the parameter of that name;
- a positional argument passes the parameter at its position;
- ``*args`` or ``**kwargs`` at a call pass every parameter they could.

Matching by name alone errs towards "passed", so a hit here is a real
single-valued option. The only exempt ones are the Kafka broker address
and start offsets: deployment settings whose defaults suit one machine.

A second walk over the package, ``tools/`` and ``tests/`` finds imports
that nothing reads, per module and per function; no linter runs on this
tree, so this is the only check for them.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "streaming_data_pipeline_capstone_spark"
CALLERS = [PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "tests", ROOT / "__spark_entry__.py"]

DEPLOYMENT_SETTINGS = {
    "sources/admin.py:bootstrap_connected:bootstrap_servers",
    "sources/admin.py:create_topic:bootstrap_servers",
    "sources/admin.py:delete_topic:bootstrap_servers",
    "sources/admin.py:topic_exists:bootstrap_servers",
    "sources/readers.py:read_kafka_batch:bootstrap_servers",
    "sources/readers.py:read_kafka_stream:bootstrap_servers",
    "sources/readers.py:read_kafka_stream:starting_offsets",
    "streaming/sinks.py:to_kafka:bootstrap_servers",
}


def _py_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)


def _optional_params(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each defaulted parameter; keyword-only ones
    have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i) for i, arg in enumerate(pos) if i >= first]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _callee_name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls() -> dict[str, list[tuple[int, set[str], bool, bool]]]:
    """callee name -> [(n positional, keyword names, has *args, has **kwargs)]"""
    calls = defaultdict(list)
    for root in CALLERS:
        for path in _py_files(root):
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                name, args = _callee_name(node.func), node.args
                if name == "partial" and args:
                    name, args = _callee_name(args[0]), args[1:]
                if name is None:
                    continue
                calls[name].append(
                    (
                        sum(not isinstance(a, ast.Starred) for a in args),
                        {k.arg for k in node.keywords if k.arg},
                        any(isinstance(a, ast.Starred) for a in args),
                        any(k.arg is None for k in node.keywords),
                    )
                )
    return calls


def never_passed() -> list[str]:
    calls = _calls()
    out = []
    for path in _py_files(PKG):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for param, pos in _optional_params(fn):
                passed = any(
                    param in kws or dstar or (pos is not None and (npos > pos or star))
                    for npos, kws, star, dstar in calls.get(fn.name, [])
                )
                if not passed:
                    out.append(f"{path.relative_to(PKG).as_posix()}:{fn.name}:{param}")
    return out


def test_every_optional_parameter_is_passed_somewhere():
    hits = [h for h in never_passed() if h not in DEPLOYMENT_SETTINGS]
    assert not hits, (
        f"{len(hits)} optional parameter(s) that no caller passes; make each "
        "a module constant or literal:\n  " + "\n  ".join(hits)
    )


def test_deployment_settings_are_still_defaulted_and_unset():
    assert DEPLOYMENT_SETTINGS <= set(never_passed())


def _scope_imports(scope: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """Import statements of ``scope`` itself, not of nested defs."""
    out, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out.append(node)
        stack.extend(ast.iter_child_nodes(node))
    return out


def unused_imports() -> list[str]:
    """``path:line:scope:name`` for each name a module or function
    imports and never reads (nested defs count as reads of their
    enclosing scope). ``__all__`` entries count as reads; ``# noqa: F401``
    on the statement marks a deliberate side-effect import."""
    out = []
    for root in [PKG, ROOT / "tools", ROOT / "tests", ROOT / "__spark_entry__.py"]:
        for path in _py_files(root):
            src = path.read_text()
            lines = src.splitlines()
            tree = ast.parse(src)
            exported = {
                elt.value
                for node in ast.walk(tree)
                if isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
                for elt in node.value.elts
            }
            scopes = [tree] + [
                n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for scope in scopes:
                read = {
                    n.id
                    for n in ast.walk(scope)
                    if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
                }
                for imp in _scope_imports(scope):
                    if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
                        continue
                    if any("noqa: F401" in ln for ln in lines[imp.lineno - 1 : imp.end_lineno]):
                        continue
                    for alias in imp.names:
                        name = (alias.asname or alias.name).split(".")[0]
                        if name not in read and name not in exported:
                            where = getattr(scope, "name", "<module>")
                            rel = path.relative_to(ROOT).as_posix()
                            out.append(f"{rel}:{imp.lineno}:{where}:{name}")
    return out


def test_no_unused_imports():
    hits = unused_imports()
    assert not hits, f"{len(hits)} import(s) that nothing reads:\n  " + "\n  ".join(hits)
