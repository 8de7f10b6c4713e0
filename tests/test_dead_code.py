"""Guard against caller-less code in the package.

Every top-level function, class or constant in ``web_crawler_spark/`` must be
referenced somewhere outside its own definition: in the package, ``scripts/``,
``tests/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A
reference is a word-boundary occurrence of the name (an import, a call, an
attribute access, a registry string), so the count is deliberately generous:
it misses nothing that is used and flags only names nobody mentions.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "web_crawler_spark"
SEARCH = [PACKAGE, ROOT / "scripts", ROOT / "tests", ROOT / "perfbench",
          ROOT / "bench.py", ROOT / "__spark_entry__.py"]
ALLOWED = {"__version__"}
_WORD = re.compile(r"\w+")


def _py_files():
    for p in SEARCH:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _top_level_names(tree):
    """(name, first line, last line) of each module-level def and assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name):
                    yield n.id, node.lineno, node.end_lineno


def unreferenced():
    words = Counter()
    lines = {}
    for f in _py_files():
        text = f.read_text(encoding="utf-8")
        lines[f] = text.splitlines()
        words.update(_WORD.findall(text))
    dead = []
    for f in sorted(PACKAGE.rglob("*.py")):
        for name, first, last in _top_level_names(ast.parse("\n".join(lines[f]))):
            own = sum(_WORD.findall(line).count(name) for line in lines[f][first - 1:last])
            if words[name] == own and name not in ALLOWED:
                dead.append(f"{f.relative_to(ROOT)}:{first} {name}")
    return dead


def test_no_unreferenced_top_level_names():
    dead = unreferenced()
    assert not dead, "top-level names with no reference:\n" + "\n".join(dead)
