"""Dead-code guards over the engine (pure text/AST scans: no Spark, no
imports of the scanned modules).

Reachability: a module-level engine def/class is live when a real entry
point reaches it.  Uses are identifiers only (``ast.Name.id`` and
``ast.Attribute.attr``), so strings, docstrings, comments and test
function names never keep a definition alive, and nothing under
``tests/`` counts as a use.  Roots:

* module-level statements of engine files other than defs and imports
  (constants, registries, ``cli``'s ``__main__`` block);
* the driver contract functions in ``CONTRACT``;
* every identifier in the benchmark harnesses (``bench*.py``,
  ``perfbench/``, ``BENCH/``);
* ``LIBRARY``: kept library entry points that no query or job runs.

A reached name makes every engine definition of that name live: names
are matched without resolving modules, so the guard can miss dead code
that shares a name with live code.  Code reached only through a string
(``getattr``) is flagged: call it by name.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFINING = sorted((ROOT / "hexscape_spark").glob("*.py")) + \
    [ROOT / "__spark_entry__.py"]
SCANNED = sorted({*DEFINING,
                  *(ROOT / "tests").glob("*.py"),
                  *ROOT.glob("bench*.py"),
                  *(ROOT / "perfbench").glob("*.py"),
                  *(ROOT / "BENCH").glob("*.py")})
CONTRACT = ("queries", "oracle_sql", "entry")
# Each entry implements a SURVEY §2 operator, a BASELINE north-star
# operation or a STATUS brief-requirement row; it must be named in
# STATUS.md and called from tests/ before it gets a line here, and it
# leaves once a query, job or bench reaches it.
LIBRARY = (
    "pip_join",                                               # cover
    "buffer_polygons", "buffer_area", "points_in_buffer",     # geo
    "intersection_polygons", "union_polygons",
    "with_laea",                                              # geo_crs
    "connectedness_wide",                                     # connectedness
    "dedup_families", "dedup_canonical",                      # dedup
    "embedding_near_dup_pairs_lsh",
    "nearest_features",                                       # knn
    "sample_frames",                                          # multimodal
    "regroup_colours", "with_clc_labels",                     # pipeline
    "raster_to_hex", "hex_to_raster",                         # raster
    "raster_to_hex_area_weighted",
    "weighted_sample_per_group",                              # rollup
    "cosine_topk_bruteforce",                                 # similarity
    "with_winnowing", "stratified_sample_deterministic",      # textops
    "with_pii_scrubbed", "with_url_features", "train_char_ngram_lm",
    "with_lm_score", "with_pack_index",
    "randomise_voronoi", "sample_points",                     # voronoi
    "stream_warc",                                            # warc
)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _role(rel: str) -> str:
    if rel.startswith("tests/"):
        return "test"
    if rel.startswith("hexscape_spark/") or rel == "__spark_entry__.py":
        return "engine"
    return "bench"


def _identifiers(node: ast.AST) -> set[str]:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def unreached(sources: dict[str, str], library=()) -> list[str]:
    """``path:line name`` of every engine def/class that no root reaches.

    `sources` maps repo-relative paths to file text; the path gives the
    role (``tests/``, engine or bench)."""
    defs: dict[str, list] = {}
    live = set(CONTRACT) | set(library)
    for rel, text in sources.items():
        tree = ast.parse(text, filename=rel)
        if _role(rel) == "bench":
            live |= _identifiers(tree)
        elif _role(rel) == "engine":
            for node in tree.body:
                if isinstance(node, _DEFS):
                    defs.setdefault(node.name, []).append((rel, node))
                elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                    live |= _identifiers(node)
    todo = list(live)
    while todo:
        for _, node in defs.get(todo.pop(), ()):
            new = _identifiers(node) - live
            live |= new
            todo.extend(new)
    return sorted(f"{rel}:{node.lineno} {name}"
                  for name, found in defs.items() if name not in live
                  for rel, node in found)


def library_gaps(sources: dict[str, str], status: str, library) -> list[str]:
    """LIBRARY entries that are not defined in the engine, not named in
    STATUS.md, not called from tests/, or stale: reached without LIBRARY."""
    idle = {entry.rsplit(" ", 1)[1] for entry in unreached(sources)}
    defined, tested = set(), set()
    for rel, text in sources.items():
        tree = ast.parse(text, filename=rel)
        if _role(rel) == "engine":
            defined |= {n.name for n in tree.body if isinstance(n, _DEFS)}
        elif _role(rel) == "test":
            tested |= _identifiers(tree)
    return [f"{name}: {why}" for name in library
            for why, ok in (("not defined", name in defined),
                            ("not in STATUS.md",
                             re.search(rf"\b{name}\b", status)),
                            ("no test calls it", name in tested),
                            ("reached without LIBRARY",
                             name in idle or name not in defined))
            if not ok]


def _repo_sources() -> dict[str, str]:
    return {str(p.relative_to(ROOT)): p.read_text() for p in SCANNED}


def test_engine_definitions_are_reachable():
    dead = unreached(_repo_sources(), LIBRARY)
    assert not dead, "engine definitions no entry point reaches:\n" + \
        "\n".join(dead)


def test_library_entries_are_documented_and_tested():
    gaps = library_gaps(_repo_sources(), (ROOT / "STATUS.md").read_text(),
                        LIBRARY)
    assert not gaps, "LIBRARY entries:\n" + "\n".join(gaps)


def test_guard_flags_def_called_only_from_tests():
    sources = {
        "hexscape_spark/m.py": (
            "def helper():\n    pass\n"
            "def job():\n    return helper()\n"
            "def benched():\n    pass\n"
            "def kept():\n    pass\n"
            "def only_tested():\n    pass\n"
            "JOBS = {'job': job}\n"),
        "perfbench/w.py": "from hexscape_spark import m\nm.benched()\n",
        "tests/test_m.py": ("from hexscape_spark.m import only_tested\n"
                            "def test_it():\n    only_tested()\n"),
    }
    # job is reached from module level, helper through job, benched from
    # the bench harness and kept from the library roots
    assert unreached(sources, library=("kept",)) == \
        ["hexscape_spark/m.py:9 only_tested"]


def test_guard_ignores_strings_docstrings_and_test_names():
    sources = {
        "hexscape_spark/cover.py": (
            "def cover_join(a, b):\n    return a.join(b)\n"
            "def raster_to_hex(df):\n    return df\n"),
        "__spark_entry__.py": (
            "def queries():\n"
            '    """raster_to_hex and cover_join, named in a docstring."""\n'
            "    return {'raster_to_hex': None}  # raster_to_hex\n"),
        "tests/test_cover.py": "def test_cover_join_matches_clip():\n    pass\n",
    }
    assert unreached(sources) == ["hexscape_spark/cover.py:1 cover_join",
                                  "hexscape_spark/cover.py:3 raster_to_hex"]


def test_guard_flags_bad_library_entries():
    sources = {
        "hexscape_spark/m.py": ("def ok():\n    pass\n"
                                "def unlisted():\n    pass\n"
                                "def untested():\n    pass\n"
                                "def queried():\n    pass\n"),
        "__spark_entry__.py": ("def queries():\n"
                               "    return {'q': queried}\n"),
        "tests/test_m.py": ("from hexscape_spark import m\n"
                            "m.ok(); m.unlisted(); m.ghost(); m.queried()\n"
                            "def test_untested():\n"
                            "    assert 'untested()'\n"),
    }
    status = "| ok | untested | ghost | unlisted_twin | queried |"
    assert library_gaps(sources, status,
                        ("ok", "ghost", "unlisted", "untested",
                         "queried")) == [
        "ghost: not defined", "unlisted: not in STATUS.md",
        "untested: no test calls it", "queried: reached without LIBRARY"]


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
