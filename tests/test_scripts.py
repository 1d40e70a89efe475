"""The study scripts in ``scripts/`` still match the engine's API.

No test runs these scripts (each needs minutes and a large host), so
an engine change that renames an export or drops a keyword would only
surface the next time someone ran the study. This check parses every
script — and every string literal in it that is itself a Python job
importing ``etl_framework_spark``, such as the ``_JOB`` templates the
scaling studies run in a subprocess — and asserts that:

- every ``from etl_framework_spark... import name`` resolves, and
- every keyword passed to an imported engine callable (a function, a
  class, a method of an imported class, or a method of an instance
  built by one) is a parameter of its ``inspect.signature``, unless
  the callable takes ``**kwargs``.

No Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import re
from pathlib import Path

import pytest

SCRIPTS = sorted((Path(__file__).resolve().parent.parent / "scripts").glob("*.py"))
ENGINE = "etl_framework_spark"


class _Zero(dict):
    def __missing__(self, key):
        return 0


#: ways to turn a job template into parseable source, tried in order:
#: as written, ``str.format`` rendered, ``{name}`` / ``{name!r}``
#: placeholders (``str.replace`` templates), ``%``-style placeholders
_RENDERINGS = (
    lambda s: s,
    lambda s: s.format_map(_Zero()),
    lambda s: re.sub(r"\{\w+(?:![rsa])?\}", "0", s),
    lambda s: re.sub(r"%[rds]", "0", s),
)


def _parse(source: str) -> ast.Module | None:
    for render in _RENDERINGS:
        try:
            return ast.parse(render(source))
        except (SyntaxError, ValueError, IndexError, KeyError):
            continue
    return None


def _engine_imports(tree: ast.AST) -> list[ast.ImportFrom]:
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(ENGINE)
    ]


def _programs(path: Path) -> list[tuple[str, ast.Module]]:
    """The script itself plus every embedded job that imports the engine."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = [(path.name, tree)]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and ENGINE in node.value
        ):
            job = _parse(node.value)
            if job is not None and _engine_imports(job):
                out.append((f"{path.name}:{node.lineno}", job))
    return out


def _engine_names(tree: ast.Module) -> tuple[dict[str, object], list[str]]:
    """Local name -> engine object for every engine import, plus one
    message per import that does not resolve."""
    names: dict[str, object] = {}
    missing: list[str] = []
    for node in _engine_imports(tree):
        try:
            mod = importlib.import_module(node.module)
        except ImportError as e:
            missing.append(f"line {node.lineno}: {node.module}: {e}")
            continue
        for a in node.names:
            if hasattr(mod, a.name):
                names[a.asname or a.name] = getattr(mod, a.name)
            else:
                missing.append(f"line {node.lineno}: {node.module} has no {a.name!r}")
    return names, missing


def _callee(func: ast.expr, names: dict, instances: dict):
    """The engine object a call's ``func`` names, or None."""
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        owner = names.get(func.value.id) or instances.get(func.value.id)
        return getattr(owner, func.attr, None) if owner is not None else None
    return None


def _instances(tree: ast.Module, names: dict) -> dict[str, type]:
    """Local name -> engine class for ``x = Cls(...)`` and
    ``x = Cls.create(...)`` assignments."""
    out: dict[str, type] = {}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, ast.Call)
        ):
            continue
        func = node.value.func
        if isinstance(func, ast.Attribute) and func.attr == "create":
            func = func.value
        cls = names.get(func.id) if isinstance(func, ast.Name) else None
        if inspect.isclass(cls):
            out[node.targets[0].id] = cls
    return out


def _bad_keywords(tree: ast.Module, names: dict) -> list[str]:
    instances = _instances(tree, names)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _callee(node.func, names, instances)
        if fn is None or not callable(fn):
            continue
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):
            continue
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        for kw in node.keywords:
            if kw.arg is not None and kw.arg not in params:
                bad.append(
                    f"line {node.lineno}: {ast.unparse(node.func)}() takes no "
                    f"keyword {kw.arg!r}"
                )
    return bad


@pytest.mark.parametrize("path", SCRIPTS, ids=[p.name for p in SCRIPTS])
def test_script_matches_engine_api(path):
    problems = []
    for where, tree in _programs(path):
        names, missing = _engine_names(tree)
        problems += [f"{where} {m}" for m in missing + _bad_keywords(tree, names)]
    assert not problems, "\n".join(problems)


def test_embedded_jobs_are_checked():
    """The subprocess jobs of the scaling studies are found and parsed,
    not skipped as unparseable templates."""
    embedded = {
        where.split(":")[0]
        for p in SCRIPTS
        for where, _ in _programs(p)
        if ":" in where
    }
    assert {
        "bench_scaling.py",
        "bench_scaling_executors.py",
        "bench_sf_ladder.py",
    } <= embedded
