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
