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


_MATERIALISING = re.compile(r"\.(localCheckpoint|persist|cache)\(")
_MATERIALISE_REASONS = ("shared subtree", "plan barrier", "loop boundary",
                        "Python stage")


def test_materialisation_only_through_checkpoint_module():
    """In-run materialisation has one owner: outside checkpoint.py the
    engine calls checkpoint.materialise / checkpoint.cached, never a bare
    localCheckpoint, persist or cache (unpersist is not scanned: broadcast
    variables use it too)."""
    bare = [f"{path.relative_to(ROOT)}:{i} {line.strip()}"
            for path in DEFINING if path.name != "checkpoint.py"
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if _MATERIALISING.search(line)]
    assert not bare, "bare materialisation calls:\n" + "\n".join(bare)


def test_materialise_calls_name_a_reason():
    """Every materialise call carries a comment, on its line or the line
    above, naming one of the reasons checkpoint.materialise documents."""
    silent = []
    for path in DEFINING:
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if "materialise(" not in line or "def materialise" in line \
                    or line.lstrip().startswith("#"):
                continue
            near = line + (lines[i - 1] if i else "")
            if not any(r in near for r in _MATERIALISE_REASONS):
                silent.append(f"{path.relative_to(ROOT)}:{i + 1}")
    assert not silent, "materialise calls with no reason:\n" + \
        "\n".join(silent)
