"""Every top-level function and class in the package is referenced
somewhere: in another tracked ``.py`` file (code, tests, the driver
contract, tools, the benchmark) or elsewhere in its own file. A
reference is code, not text: a name loaded or bound (``ast.Name``), a
name a ``from ... import`` imports, or an attribute of the defining module
itself (``stats.fit`` after ``from pkg.functions import stats``, or
``FS.fit`` after ``import pkg.functions.stats as FS``). A definition named
only in comments, docstrings or strings, or only as an attribute of some
other object (``ck.mark(...)`` is not ``marking.mark``), does not count.
A definition nothing references is dead code; delete it, or add the test
that uses it."""

from __future__ import annotations

import ast
import subprocess
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _py_files() -> list[Path]:
    """The tracked ``.py`` files; every ``.py`` file outside hidden
    directories when the checkout has no git metadata."""
    try:
        out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT, check=True,
                             capture_output=True, text=True).stdout
        return [ROOT / f for f in out.split()]
    except (OSError, subprocess.CalledProcessError):
        return [p for p in ROOT.rglob("*.py")
                if not any(s.startswith(".") for s in p.relative_to(ROOT).parts)]


def _module_name(relpath: str) -> str:
    parts = relpath[: -len(".py")].split("/")
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _dotted(node: ast.AST, aliases: dict[str, str]) -> str | None:
    """The module path an expression names (``FS`` or ``pkg.functions``),
    through this file's import aliases; None for anything else."""
    if isinstance(node, ast.Name):
        return aliases.get(node.id)
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value, aliases)
        return f"{base}.{node.attr}" if base else None
    return None


def _references(tree: ast.AST, relpath: str) -> Counter:
    """What a file references in code: plain names (Name ids and the names
    a ``from ... import`` imports) under their own name, and attributes of
    an imported module as ``"<module>:<attr>"``."""
    package = relpath.split("/")[:-1]
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    aliases[a.asname] = a.name
                else:
                    top = a.name.split(".")[0]
                    aliases[top] = top
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                aliases[a.asname or a.name] = f"{base}.{a.name}"
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.ImportFrom):
            refs.update(a.name for a in node.names)
        elif isinstance(node, ast.Attribute):
            owner = _dotted(node.value, aliases)
            if owner:
                refs[f"{owner}:{node.attr}"] += 1
    return refs


def unreferenced_defs(sources: dict[str, str]) -> list[str]:
    """``"<path>:<line> <name>"`` of every top-level definition under
    ``autoprepad_spark/`` that no source references; ``sources`` maps
    repo-relative paths to file text."""
    trees = {p: ast.parse(text) for p, text in sources.items()}
    refs = [_references(t, p) for p, t in trees.items()]
    dead = []
    for path, tree in trees.items():
        if path.split("/")[0] != "autoprepad_spark":
            continue
        module = _module_name(path)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if any(r[name] or r[f"{module}:{name}"] for r in refs):
                continue
            dead.append(f"{path}:{node.lineno} {name}")
    return dead


def test_an_attribute_counts_only_on_the_defining_module():
    pkg = {
        "autoprepad_spark/operators/marking.py": "def mark(df):\n    return df\n",
        "autoprepad_spark/functions/stats.py": "def fit(df):\n    return df\n",
    }
    other_object = {"tests/t.py": "def f(ck):\n    ck.mark(1)\n    ck.fit(2)\n"}
    assert unreferenced_defs({**pkg, **other_object}) == [
        "autoprepad_spark/operators/marking.py:1 mark",
        "autoprepad_spark/functions/stats.py:1 fit",
    ]
    via_modules = {"tests/t.py": (
        "from autoprepad_spark.operators import marking\n"
        "import autoprepad_spark.functions.stats as FS\n"
        "marking.mark(1)\nFS.fit(2)\n")}
    assert unreferenced_defs({**pkg, **via_modules}) == []
    relative = {"autoprepad_spark/functions/nulls.py": (
        "from . import stats\nfrom ..operators import marking\n"
        "stats.fit(1)\nmarking.mark(2)\n")}
    assert unreferenced_defs({**pkg, **relative}) == []
    in_text_only = {"tests/t.py": '"""mark and fit"""\n# stats.fit\nx = "marking.mark"\n'}
    assert len(unreferenced_defs({**pkg, **in_text_only})) == 2


def test_every_top_level_definition_is_referenced():
    files = [p for p in _py_files() if p.exists()]
    dead = unreferenced_defs({str(p.relative_to(ROOT)): p.read_text() for p in files})
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
