"""Dead-code guards over the engine (pure text/AST scans: no Spark, no
imports of the scanned modules).

Reachability: a module-level engine def/class or constant (a plain-name
assignment) is live when a real entry point reaches it, and a constant's
value keeps what it names alive only once something live reads it.  Uses
are identifiers only (``ast.Name.id`` and ``ast.Attribute.attr``), so
strings, docstrings, comments and test function names never keep a
definition alive, and nothing under ``tests/`` counts as a use.  Roots:

* module-level statements of engine files other than defs, imports and
  assignments (``cli``'s ``__main__`` block); an assignment to a dunder
  name (``__all__``) or to anything but plain names (``X[k] = v``);
* the driver contract functions in ``CONTRACT``;
* every identifier in the benchmark harnesses (``bench*.py``,
  ``perfbench/``, ``BENCH/``);
* ``LIBRARY``: kept library entry points that no query or job runs.

A reached name makes every engine definition of that name live: names
are matched without resolving modules, so the guard can miss dead code
that shares a name with live code.  Code reached only through a string
(``getattr``) is flagged: call it by name.

Options: a knob is a defaulted parameter of a module-level engine
function whose default is not a string literal, or that an
``if``/``while``/conditional-expression test in its body names (a string
default that steers no branch names a column of the caller's schema and
is out of scope).  Some caller outside ``tests/`` must set every knob (by
keyword, by position or through ``**kwargs``), and not every one of them
to the same literal: one literal everywhere, the default's own or
another, leaves the default to pytest alone.  Test callers count only
for ``LIBRARY`` functions and ``OPTIONS`` entries.  Callers are matched
by the called name, like the reachability scan.

Imports: every name an engine or test file imports is read in the
function (or, at module level, the file) that imports it.

Twins: no two engine function bodies (nested ones included) of at least
2 statements and 40 AST nodes may be identical once the docstring is
dropped and identifiers are renamed in order of first appearance.  One
of the two is a copy: fold it into the other.
"""

import ast
import copy
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
    "with_laea",                                              # geo_crs
    "connectedness_wide",                                     # connectedness
    "nearest_features",                                       # knn
    "regroup_colours", "with_clc_labels",                     # pipeline
    "raster_to_hex", "hex_to_raster",                         # raster
    "raster_to_hex_area_weighted",
    "weighted_sample_per_group",                              # rollup
    "randomise_voronoi", "sample_points",                     # voronoi
)
# Knobs that tests set, each mirroring a reference argument (engine
# callers may set it too) or forcing a size gate or bound so both sides
# are tested (tests only).
OPTIONS = (
    "bfs_hops.local_edge_cap",           # gate: BFS_LOCAL_EDGE_CAP
    "connected_components.local_cap",    # gate: CC_LOCAL_CAP
    "connected_components.max_rounds",   # gate: 64-round bound
    "discretise_habitat.max_size_km2",   # R/discretise_habitat.R:46
    "discretise_habitat.min_size_km2",   # R/discretise_habitat.R:46
    "discretise_habitat.point_density_per_km2",  # R/discretise_habitat.R:21
    "discretise_habitat.raster_size_km2",  # R/discretise_habitat.R:21
    "discretise_habitat.seed",           # R/discretise_habitat.R:21
    "discretise_voronoi.max_doublings",  # gate: 16 doublings
    "extract_landcover.clc_filter",      # R/extract_corine.R:112-135
    "extract_landcover.clc_labels",      # R/load_corine.R:291-294
    "generate_patches.add_removed",      # R/generate_patches.R:169-177
    "generate_patches.name_index",       # R/generate_patches.R:381-385
    "generate_patches.simplify_keep",    # R/generate_patches.R:153,193,241
    "grid_components.block",             # gate: 256-cell tiles
    "read_warc.max_segment_bytes",       # gate: MAX_SEGMENT_BYTES
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


def _assigned(node: ast.stmt) -> list[str]:
    """Names a module-level assignment defines; empty for any other
    statement, for a target that is not a plain name (``X[k] = v``) and
    for dunder names, which stay roots."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    names = [n for t in targets for n in ast.walk(t)
             if isinstance(n, (ast.Name, ast.Attribute, ast.Subscript))]
    if not all(isinstance(n, ast.Name) for n in names) or \
            any(n.id.startswith("__") for n in names):
        return []
    return [n.id for n in names]


def unreached(sources: dict[str, str], library=()) -> list[str]:
    """``path:line name`` of every engine def/class or module-level
    constant that no root reaches.

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
                names = [node.name] if isinstance(node, _DEFS) \
                    else _assigned(node)
                for name in names:
                    defs.setdefault(name, []).append((rel, node))
                if not names and \
                        not isinstance(node, (ast.Import, ast.ImportFrom)):
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
            "if __name__ == '__main__':\n    job()\n"),
        "perfbench/w.py": "from hexscape_spark import m\nm.benched()\n",
        "tests/test_m.py": ("from hexscape_spark.m import only_tested\n"
                            "def test_it():\n    only_tested()\n"),
    }
    # job is reached from module level, helper through job, benched from
    # the bench harness and kept from the library roots
    assert unreached(sources, library=("kept",)) == \
        ["hexscape_spark/m.py:9 only_tested"]


def test_guard_flags_unread_constants():
    sources = {
        "hexscape_spark/m.py": (
            "__all__ = ['job']\n"
            "UNREAD = {'dead': dead}\n"
            "DEAD_ONLY = {'k': 2}\n"
            "LIVE_READ = 3\n"
            "BENCH_READ = 4\n"
            "A, B = 5, 6\n"
            "def dead():\n    return DEAD_ONLY\n"
            "def job():\n    return LIVE_READ + A\n"
            "JOBS = {'job': job}\n"
            "print(JOBS)\n"),
        "perfbench/w.py": "from hexscape_spark import m\nm.BENCH_READ\n",
        "tests/test_m.py": "from hexscape_spark.m import UNREAD, B\n",
    }
    # __all__ is a root that nothing reads; JOBS is live because a
    # module-level statement reads it, job because JOBS names it, and
    # LIVE_READ and the tuple assignment's A and B through job.  UNREAD
    # is read only by a test, so the def its value names stays dead, and
    # DEAD_ONLY is read only by that dead def.
    assert unreached(sources) == ["hexscape_spark/m.py:2 UNREAD",
                                  "hexscape_spark/m.py:3 DEAD_ONLY",
                                  "hexscape_spark/m.py:7 dead"]


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


def unread_imports(sources: dict[str, str]) -> list[str]:
    """``path:line name`` of every name an engine or test file imports
    and never reads: in the importing function for a function-local
    import, anywhere in the file for a module-level one."""
    unread = []
    for rel, text in sources.items():
        if _role(rel) == "bench":
            continue
        todo = [(tree := ast.parse(text, filename=rel), tree)]
        while todo:
            node, scope = todo.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.Import, ast.ImportFrom)) and \
                        getattr(child, "module", None) != "__future__":
                    read = {n.id for n in ast.walk(scope)
                            if isinstance(n, ast.Name)}
                    unread += [f"{rel}:{child.lineno} {name}"
                               for a in child.names
                               if (name := a.asname or a.name.split(".")[0])
                               not in read]
                todo.append((child, child if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef))
                    else scope))
    return sorted(unread)


def test_imports_are_read():
    unread = unread_imports(_repo_sources())
    assert not unread, "imported names nothing reads:\n" + "\n".join(unread)


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


# `.repartition(` or a SQL `/*+ REPARTITION(` hint whose first argument
# is not a partition count
_COLUMN_REPARTITION = re.compile(
    r"(\.repartition|/\*\+\s*REPARTITION)\((?!\s*\d)")


def test_column_repartition_only_through_spread():
    """A shuffle that spreads a stage over the cores has one owner:
    outside checkpoint.py the engine calls checkpoint.spread, never a
    column-only repartition or ``REPARTITION(col)`` SQL hint, which AQE
    coalesces back into one task on a small input.  A literal partition
    count (`repartition(1)`) stays allowed."""
    bare = [f"{path.relative_to(ROOT)}:{i} {line.strip()}"
            for path in DEFINING if path.name != "checkpoint.py"
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if _COLUMN_REPARTITION.search(line)
            and not line.lstrip().startswith("#")]
    assert not bare, "column repartitions outside spread:\n" + \
        "\n".join(bare)


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


_BRANCHES = (ast.If, ast.IfExp, ast.While)


def _is_string(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _knobs(fn) -> list[tuple[str, int | None, ast.expr]]:
    """(name, position, default) of each defaulted parameter of `fn` whose
    default is not a string literal or that an
    if/while/conditional-expression test in its body names; position is
    None for keyword-only parameters.  A string default names a column of
    the caller's schema, not a knob, unless it steers a branch."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    defaulted = [(p.arg, i, d) for i, (p, d) in
                 enumerate(zip(pos[first:], a.defaults), first)]
    defaulted += [(p.arg, None, d)
                  for p, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None]
    tested = set().union(*(_identifiers(n.test) for n in ast.walk(fn)
                           if isinstance(n, _BRANCHES)))
    return [(name, i, d) for name, i, d in defaulted
            if name in tested or not _is_string(d)]


def _argument(call: ast.Call, name: str, position: int | None):
    """What `call` passes for the parameter: the expression it passes by
    keyword or by position, ``...`` when it may pass it through
    ``**kwargs`` or a ``*args`` (any position), None when it does not."""
    for k in call.keywords:
        if k.arg == name:
            return k.value
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    if position is not None and len(call.args) > position and not starred:
        return call.args[position]
    if any(k.arg is None for k in call.keywords) or (
            position is not None and starred):
        return ...
    return None


def _literal(node):
    """(type, value) of a literal argument or default, else None."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError):
        return None
    return type(value), repr(value)


def unset_options(sources: dict[str, str], library=(), options=(),
                  references=()) -> list[str]:
    """Knobs of module-level engine functions that no caller outside
    ``tests/`` turns.  A knob is a defaulted parameter whose default is
    not a string literal or that steers a branch.  Flagged, as ``path:line
    function.parameter``: (a) no caller outside ``tests/`` sets it; as
    ``... = literal (the default)``: (b) every such caller passes the
    default's own value; as ``... = literal``: (c) every such caller
    passes one other literal, so the default runs only under pytest.  A
    call that omits the knob passes its default.  A test caller is enough
    against (a) for a function in `library` or a ``function.parameter``
    in `options`; an `options` entry that no test sets, that is no knob,
    or that a non-test caller sets while it is not also in `references`
    (an entry mirroring a reference argument, which engine callers may
    set too) is flagged as well.  Calls match by the called name
    alone."""
    knobs, calls = [], {}
    for rel, text in sources.items():
        tree = ast.parse(text, filename=rel)
        if _role(rel) == "engine":
            knobs += [(rel, node, name, i, default) for node in tree.body
                      if isinstance(node, ast.FunctionDef)
                      for name, i, default in _knobs(node)]
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and \
                    isinstance(node.func, (ast.Name, ast.Attribute)):
                callee = getattr(node.func, "id", None) or node.func.attr
                calls.setdefault(callee, []).append((_role(rel), node))
    flagged, found = [], set()
    for rel, fn, name, i, default in knobs:
        option = f"{fn.name}.{name}"
        found.add(option)
        passed = [(role, _argument(call, name, i))
                  for role, call in calls.get(fn.name, ())]
        roles = {role for role, arg in passed if arg is not None}
        outside = [default if arg is None else arg
                   for role, arg in passed if role != "test"]
        literals = {_literal(a) if isinstance(a, ast.expr) else None
                    for a in outside}
        if option in options:
            for why, ok in (("no test sets it", "test" in roles),
                            ("set outside tests/", roles <= {"test"}
                             or option in references)):
                if not ok:
                    flagged.append(f"{option}: {why}")
        elif not roles - {"test"} and not (
                fn.name in library and "test" in roles):
            flagged.append(f"{rel}:{fn.lineno} {option}")
        elif outside and len(literals) == 1 and None not in literals:
            same = " (the default)" if literals == {_literal(default)} \
                else ""
            flagged.append(f"{rel}:{fn.lineno} {option} = "
                           f"{ast.unparse(outside[0])}{same}")
    flagged += [f"{option}: no knob"
                for option in options if option not in found]
    return flagged


def test_engine_options_have_callers():
    """Every knob of a module-level engine function is set by a caller
    outside tests/, and not by all of them to one literal, or is a
    test-set LIBRARY or OPTIONS entry whose comment names its reference
    argument (R file:line) or the size gate or bound it forces."""
    text = Path(__file__).read_text()
    notes = {o: re.search(rf'"{re.escape(o)}",\s*# (R/\S+:\d|gate: )',
                          text) for o in OPTIONS}
    bare = [o for o, note in notes.items() if not note]
    assert not bare, "OPTIONS entries without a reference or gate:\n" + \
        "\n".join(bare)
    references = [o for o, note in notes.items()
                  if note.group(1).startswith("R/")]
    flagged = unset_options(_repo_sources(), LIBRARY, OPTIONS, references)
    assert not flagged, "options no caller sets or every caller sets " \
        "to one literal:\n" + "\n".join(flagged)


_KNOBS = (
    "def knob(df, fast=True, limit=10, *, mode=None):\n"
    "    if fast and mode:\n        return df\n"
    "    return df if limit else None\n"
    "def plain(df, n=3):\n    return df * n\n")


def test_options_guard_flags_never_set_knob():
    sources = {"hexscape_spark/m.py": _KNOBS,
               "tests/test_m.py": "knob(1, fast=False)\n"}
    assert unset_options(sources) == ["hexscape_spark/m.py:1 knob.fast",
                                      "hexscape_spark/m.py:1 knob.limit",
                                      "hexscape_spark/m.py:1 knob.mode",
                                      "hexscape_spark/m.py:5 plain.n"]


def test_options_guard_passes_knob_set_by_engine_caller():
    sources = {"hexscape_spark/m.py": _KNOBS,
               "__spark_entry__.py": ("from hexscape_spark import m\n"
                                      "def entry(spark):\n"
                                      "    m.knob(spark, False, mode='x')\n"
                                      "    m.knob(spark, **{'limit': 2})\n"
                                      "    m.plain(spark, spark.n)\n")}
    assert unset_options(sources) == []


def test_options_guard_flags_options_entry_without_test_caller():
    sources = {"hexscape_spark/m.py": _KNOBS,
               "perfbench/w.py": ("m.knob(0, fast=False, limit=1)\n"
                                  "m.knob(0, fast=True, limit=2)\n"
                                  "m.plain(0, 1)\nm.plain(0, 2)\n"),
               "tests/test_m.py": "m.knob(1, mode='x')\n"}
    assert unset_options(sources, options=("knob.mode",)) == []
    # a parameter without a default is no knob
    assert unset_options(sources, options=("knob.fast", "knob.mode",
                                           "plain.df")) == [
        "knob.fast: no test sets it", "knob.fast: set outside tests/",
        "plain.df: no knob"]
    assert unset_options({"hexscape_spark/m.py": _KNOBS,
                          "tests/test_m.py": "m.knob(1, limit=0)\n"},
                         options=("knob.fast", "knob.limit", "knob.mode")) \
        == ["knob.fast: no test sets it", "knob.mode: no test sets it",
            "hexscape_spark/m.py:5 plain.n"]


def test_options_guard_flags_one_literal_everywhere():
    sources = {
        "hexscape_spark/m.py": (
            "def one(df, mode='a', small=False, k=1, *, size=None):\n"
            "    if mode == 'b' or small or size:\n        return df\n"
            "    return df if k else None\n"),
        "__spark_entry__.py": (
            "def entry(spark, n_cells):\n"
            "    one(spark, 'b', small=n_cells < 10, k=2, size=3.0)\n"
            "    one(spark, mode='b', small=True, k=3, size=3.0)\n"),
        "tests/test_m.py": "one(1, size=5.0)\n"}
    # mode: both engine calls pass 'b', so its default runs only under
    # pytest; small is computed once and k takes two literals
    assert unset_options(sources) == [
        "hexscape_spark/m.py:1 one.mode = 'b'",
        "hexscape_spark/m.py:1 one.size = 3.0"]
    # an OPTIONS entry may be set outside tests/ only when it mirrors a
    # reference argument
    assert unset_options(sources, options=("one.size",)) == [
        "hexscape_spark/m.py:1 one.mode = 'b'",
        "one.size: set outside tests/"]
    assert unset_options(sources, options=("one.size",),
                         references=("one.size",)) == [
        "hexscape_spark/m.py:1 one.mode = 'b'"]


def test_options_guard_flags_every_unturned_default():
    """Every non-string default is a knob, whether or not it steers a
    branch: (a) only tests set it, (b) every engine caller restates the
    default, (c) every engine caller passes one other literal."""
    sources = {
        "hexscape_spark/m.py": (
            "def f(df, col='x', never=2, same=0.5, other=None, two=1,\n"
            "      computed=3, r_arg=4):\n"
            "    return df\n"
            "def lib(df, size=7):\n    return df\n"),
        "__spark_entry__.py": (
            "def entry(spark):\n"
            "    f(spark, same=0.5, other=8, two=1, computed=len(spark),\n"
            "      r_arg=4)\n"
            "    f(spark, same=0.5, other=8, two=2, computed=0, r_arg=4)\n"),
        "tests/test_m.py": "f(1, never=3, r_arg=6)\nlib(1, size=9)\n"}
    # col is a string default (schema plumbing), two takes two literals,
    # computed a computed value, lib.size is a test-set LIBRARY parameter
    # and r_arg an OPTIONS entry mirroring a reference argument
    assert unset_options(sources, library=("lib",), options=("f.r_arg",),
                         references=("f.r_arg",)) == [
        "hexscape_spark/m.py:1 f.never",
        "hexscape_spark/m.py:1 f.same = 0.5 (the default)",
        "hexscape_spark/m.py:1 f.other = 8"]
    # without the LIBRARY line, a parameter only tests set is flagged
    assert "hexscape_spark/m.py:4 lib.size" in unset_options(
        sources, options=("f.r_arg",), references=("f.r_arg",))


def test_options_guard_reads_omitted_argument_as_default():
    """A call that omits a knob runs its default: engine callers that
    either restate the default or omit it leave one value in use, (b);
    one caller passing another literal next to one omitting it leaves
    two, as does a computed value."""
    sources = {
        "hexscape_spark/m.py": (
            "def g(df, keep=True, prop=0.01, n=2, w=1.0):\n"
            "    return df\n"
            "def h(df):\n"
            "    return g(df, n=3)\n"),
        "__spark_entry__.py": (
            "def entry(spark):\n"
            "    g(spark, keep=True, prop=0.01, w=len(spark))\n"
            "    g(spark, prop=0.01)\n"),
        "tests/test_m.py": "g(1, keep=False, prop=0.5, n=4, w=2.0)\n"}
    assert unset_options(sources) == [
        "hexscape_spark/m.py:1 g.keep = True (the default)",
        "hexscape_spark/m.py:1 g.prop = 0.01 (the default)"]


def _body_shape(fn) -> tuple[int, int, str]:
    """(statements, AST nodes, dump) of `fn`'s body without its docstring,
    each identifier renamed by its order of first appearance."""
    body = copy.deepcopy(fn.body[1:] if ast.get_docstring(fn) is not None
                         else fn.body)
    names: dict[str, str] = {}
    nodes = 0
    for node in (n for stmt in body for n in ast.walk(stmt)):
        nodes += 1
        for field in ("id", "attr", "arg", "name"):
            value = getattr(node, field, None)
            if isinstance(value, str):
                setattr(node, field, names.setdefault(value, f"v{len(names)}"))
    return len(body), nodes, "\n".join(ast.dump(stmt) for stmt in body)


def twin_bodies(sources: dict[str, str], min_statements: int = 2,
                min_nodes: int = 40) -> list[str]:
    """Groups of engine functions whose bodies are identical up to
    identifier names, as ``path:line name = path:line name``."""
    groups: dict[str, list[str]] = {}
    for rel, text in sources.items():
        if _role(rel) != "engine":
            continue
        for fn in ast.walk(ast.parse(text, filename=rel)):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                statements, nodes, shape = _body_shape(fn)
                if statements >= min_statements and nodes >= min_nodes:
                    groups.setdefault(shape, []).append(
                        f"{rel}:{fn.lineno} {fn.name}")
    return sorted(" = ".join(sorted(g)) for g in groups.values() if len(g) > 1)


def test_engine_has_no_twin_bodies():
    twins = twin_bodies(_repo_sources())
    assert not twins, "engine functions with one body under two names:\n" \
        + "\n".join(twins)


_SCALED = (
    "def scaled(xs, lo, k):\n"
    "    \"\"\"Docstrings never count.\"\"\"\n"
    "    total = 0.0\n"
    "    for x in xs:\n"
    "        if x > lo:\n"
    "            total += k * (x - lo) ** 2\n"
    "        else:\n"
    "            total -= k * (lo - x) / 2.0\n"
    "    return max(total, 0.0), len(xs)\n")


def test_twin_guard_flags_renamed_copy_only():
    renamed = (_SCALED.replace("scaled", "weighted").replace("total", "acc")
               .replace("Docstrings never count.", "A copy."))
    changed = _SCALED.replace("scaled", "halved").replace("2.0", "3.0")
    small = "def a(x):\n    y = x + 1\n    return y\n"
    sources = {"hexscape_spark/m.py": _SCALED + small,
               "hexscape_spark/n.py": renamed + changed,
               "__spark_entry__.py": small.replace("def a", "def b"),
               "tests/test_m.py": _SCALED}
    assert _body_shape(ast.parse(_SCALED).body[0])[:2] == (3, 64)
    assert twin_bodies(sources) == [
        "hexscape_spark/m.py:1 scaled = hexscape_spark/n.py:1 weighted"]
    assert twin_bodies(sources, min_nodes=65) == []
    assert twin_bodies(sources, min_statements=2, min_nodes=1) == [
        "__spark_entry__.py:1 b = hexscape_spark/m.py:10 a",
        "hexscape_spark/m.py:1 scaled = hexscape_spark/n.py:1 weighted"]
