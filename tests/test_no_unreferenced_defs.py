"""Every top-level function and class in the package is referenced
somewhere: by name, as a whole word, in another tracked ``.py`` file
(code, tests, the driver contract, tools, the benchmark) or elsewhere in
its own file. A definition nothing names is dead code; delete it, or
add the test that uses it."""

from __future__ import annotations

import ast
import re
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


def unreferenced_defs() -> list[str]:
    files = [p for p in _py_files() if p.exists()]
    words = {p: Counter(re.findall(r"\w+", p.read_text())) for p in files}
    dead = []
    for path in files:
        if path.relative_to(ROOT).parts[0] != "autoprepad_spark":
            continue
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if words[path][name] > 1 or any(
                    name in w for p, w in words.items() if p != path):
                continue
            dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    return dead


def test_every_top_level_definition_is_referenced():
    dead = unreferenced_defs()
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
