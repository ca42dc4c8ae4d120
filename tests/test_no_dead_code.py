"""Dead-code guard: every module-level def/class in the engine has a user.

A name counts as used when it appears as a whole word anywhere in the
repo's Python outside its own definition (calls, imports, tests, strings).
Pure text scan — no Spark, no imports of the scanned modules.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFINING = sorted((ROOT / "hexscape_spark").glob("*.py")) + \
    [ROOT / "__spark_entry__.py"]
SEARCHED = sorted({*DEFINING,
                   *(ROOT / "tests").glob("*.py"),
                   *ROOT.glob("bench*.py"),
                   *(ROOT / "perfbench").glob("*.py"),
                   *(ROOT / "BENCH").glob("*.py")})
_WORD = re.compile(r"\w+")


def _top_level_defs(path: Path):
    """(name, first line, last line) of each module-level def/class,
    decorators included; lines are 1-based and inclusive."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno] +
                        [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno


def test_no_zero_caller_definitions():
    words = Counter()
    for path in SEARCHED:
        words.update(_WORD.findall(path.read_text()))
    dead = []
    for path in DEFINING:
        lines = path.read_text().splitlines()
        for name, first, last in _top_level_defs(path):
            own = _WORD.findall("\n".join(lines[first - 1:last])).count(name)
            if words[name] == own:
                dead.append(f"{path.relative_to(ROOT)}:{first} {name}")
    assert not dead, "definitions with no user:\n" + "\n".join(dead)
