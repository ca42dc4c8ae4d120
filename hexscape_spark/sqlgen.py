"""Shared SQL generator — single source of truth for hex/geocode arithmetic.

Every expression emitted here is plain ANSI SQL that parses identically in
Spark SQL (where Catalyst optimizes it into whole-stage-codegen JVM
expressions — no Python in the hot path) and in DuckDB (the driver's
correctness oracle).  Emitting ONE string for BOTH engines guarantees the
Spark plan and the oracle can never drift, and float constants are embedded
as pre-computed Python ``repr`` literals so both engines parse the exact
same IEEE-754 doubles.

The axial hex math follows the reference bit-for-bit:
  * centroid(q,r): x = refx + r*w/2 + q*w ; y = refy - r*(side+height)/2
    (reference: R/generate_patches.R:114-115)
  * point->cell: inverse lattice transform + cube rounding (the standard
    pixel-to-hex algorithm for the same pointy-top axial grid the reference
    uses, cf. R/generate_patches.R:85-86 citing redblobgames axial storage).

Only constructs shared by both dialects are used: arithmetic, ``%`` on
BIGINT, CASE WHEN, ABS, SIGN, CAST(... AS BIGINT), window functions.
NOTE: bare FLOOR is avoided (BIGINT in Spark vs DOUBLE in DuckDB); it only
appears as ``CAST(FLOOR(x) AS DOUBLE)``.

Cube rounding uses ``round_half_away_expr`` instead of ``ROUND(x)``: Spark
compiles ROUND on DOUBLE to ``BigDecimal.valueOf(x).setScale(0, HALF_UP)``
(a ``Double.toString`` per call), while the helper is FLOOR/ABS/SIGN
arithmetic.  It equals ROUND(x) for every finite |x| < 2^52, because
``|x| - floor(|x|)`` is exact in IEEE doubles there, and it returns +0.0
where ROUND would, never -0.0.  Hex coordinates are far inside that
domain: ``cell_id`` packing already bounds |q|, |r| below 2^21.
"""

from __future__ import annotations

from . import hexgrid
from . import params as P


def _f(x: float) -> str:
    """Embed a python float as an exact DOUBLE literal for both parsers.

    Spark SQL parses plain decimal-point literals (``3000.0``) as DECIMAL,
    which silently switches the arithmetic to fixed-point and breaks IEEE
    parity with DuckDB.  Exponent-notation literals (``3000.0E0``) are
    DOUBLE in both dialects.
    """
    s = repr(float(x))
    if "e" in s or "E" in s or "inf" in s or "nan" in s:
        return s
    return s + "E0"


# ---------------------------------------------------------------------------
# Layered query builder: each layer is a list of (alias, expr) added via
# SELECT *, expr AS alias FROM (prev).  Aliases of earlier layers are usable.
# ---------------------------------------------------------------------------

def build_query(base: str, layers: list[list[tuple[str, str]]],
                select: str = "*", where: str | None = None) -> str:
    q = base if " " not in base.strip() else f"({base})"
    for layer in layers:
        cols = ", ".join(f"{expr} AS {alias}" for alias, expr in layer)
        q = f"(SELECT *, {cols} FROM {q} AS _t)"
    w = f" WHERE {where}" if where else ""
    return f"SELECT {select} FROM {q} AS _q{w}"


# ---------------------------------------------------------------------------
# Deterministic geocoder (FIXTURES.md F1): integer key -> (lon, lat)
# ---------------------------------------------------------------------------

def geocode_layers(key: str) -> list[list[tuple[str, str]]]:
    """Layers that add lon/lat columns derived from integer column `key`."""
    w = P.MAXX - P.MINX
    h = P.MAXY - P.MINY
    hx = (f"CASE WHEN ({key}) % 3 = 0 THEN {_f(P.HOTSPOTS[0][0])} "
          f"WHEN ({key}) % 3 = 1 THEN {_f(P.HOTSPOTS[1][0])} "
          f"ELSE {_f(P.HOTSPOTS[2][0])} END")
    hy = (f"CASE WHEN ({key}) % 3 = 0 THEN {_f(P.HOTSPOTS[0][1])} "
          f"WHEN ({key}) % 3 = 1 THEN {_f(P.HOTSPOTS[1][1])} "
          f"ELSE {_f(P.HOTSPOTS[2][1])} END")
    return [
        [("u1", f"(({key}) * {P.LCG_A}) % {P.LCG_M}")],
        [("u2", f"(u1 * {P.LCG_A}) % {P.LCG_M}"),
         ("r1", f"u1 / {_f(P.LCG_M)}")],
        [("r2", f"u2 / {_f(P.LCG_M)}")],
        [("lon", f"CASE WHEN ({key}) % 10 < 2 THEN {hx} + (r1 - {_f(0.5)}) * {_f(2 * P.HOT_HALF)} "
                 f"ELSE {_f(P.MINX)} + r1 * {_f(w)} END"),
         ("lat", f"CASE WHEN ({key}) % 10 < 2 THEN {hy} + (r2 - {_f(0.5)}) * {_f(2 * P.HOT_HALF)} "
                 f"ELSE {_f(P.MINY)} + r2 * {_f(h)} END")],
    ]


# ---------------------------------------------------------------------------
# Point -> axial hex cell (cube rounding), centroid, packing
# ---------------------------------------------------------------------------

def round_half_away_expr(x: str) -> str:
    """ROUND(x) on DOUBLE x (half away from zero) as FLOOR/ABS/SIGN
    arithmetic, exact for finite |x| < 2^52 (see the module docstring).
    The trailing ``+ 0.0E0`` turns -0.0 into +0.0, as Spark's ROUND does.
    NULL in, NULL out."""
    a = f"ABS({x})"
    fl = f"CAST(FLOOR({a}) AS DOUBLE)"
    return (f"((CASE WHEN {a} - {fl} >= 0.5E0 THEN {fl} + 1.0E0 ELSE {fl} END)"
            f" * SIGN({x}) + 0.0E0)")


def hex_layers(lon: str = "lon", lat: str = "lat",
               hex_width: float = P.HEX_WIDTH,
               refx: float = P.REFX, refy: float = P.REFY) -> list[list[tuple[str, str]]]:
    size = P.hex_side(hex_width)          # = height/2
    return [
        [("rf", f"(({_f(refy)}) - ({lat})) / {_f(1.5 * size)}")],
        [("qf", f"(({lon}) - ({_f(refx)})) / {_f(hex_width)} - rf / 2")],
        [("sf", "-qf - rf")],
        [("qg", round_half_away_expr("qf")), ("rg", round_half_away_expr("rf")),
         ("sg", round_half_away_expr("sf"))],
        [("dq", "ABS(qg - qf)"), ("dr", "ABS(rg - rf)"), ("ds", "ABS(sg - sf)")],
        [("q", "CAST(CASE WHEN dq > dr AND dq > ds THEN -rg - sg ELSE qg END AS BIGINT)"),
         ("r", "CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -qg - sg ELSE rg END AS BIGINT)")],
        [("cell_id", cell_id_expr("q", "r"))],
    ]


def cell_id_expr(q: str = "q", r: str = "r") -> str:
    return f"(({q}) + {P.CELL_OFF}) * {P.CELL_MUL} + (({r}) + {P.CELL_OFF})"


def centroid_exprs(q: str = "q", r: str = "r",
                   hex_width: float = P.HEX_WIDTH,
                   refx: float = P.REFX, refy: float = P.REFY) -> tuple[str, str]:
    """(q,r) -> hex centroid, exactly R/generate_patches.R:114-115."""
    cx = f"{_f(refx)} + ({r}) * {_f(hex_width / 2.0)} + ({q}) * {_f(hex_width)}"
    cy = f"{_f(refy)} - ({r}) * {_f(hexgrid.row_step(hex_width))}"
    return cx, cy


def dist_point_to_rect_expr(x: str, y: str, minx: float, miny: float,
                            maxx: float, maxy: float) -> str:
    """Euclidean distance from a point to an axis-aligned rectangle (0 inside).

    Used as the SQL-expressible oracle for the reference's
    "distance to landscape < hexhgt/1.9" centroid filter
    (reference: R/generate_patches.R:103-122) on rectangular landscapes.
    """
    dx = f"CASE WHEN ({x}) < {_f(minx)} THEN {_f(minx)} - ({x}) WHEN ({x}) > {_f(maxx)} THEN ({x}) - {_f(maxx)} ELSE {_f(0.0)} END"
    dy = f"CASE WHEN ({y}) < {_f(miny)} THEN {_f(miny)} - ({y}) WHEN ({y}) > {_f(maxy)} THEN ({y}) - {_f(maxy)} ELSE {_f(0.0)} END"
    return f"SQRT(({dx}) * ({dx}) + ({dy}) * ({dy}))"


# ---------------------------------------------------------------------------
# Portable 60-bit hash: md5 hex prefix folded to BIGINT.  Parses and
# evaluates identically in Spark SQL and DuckDB (md5 / substring / instr are
# shared), so hash-dependent operators (minhash, simhash) can be oracled
# exactly.  15 hex digits -> [0, 16^15) fits BIGINT with no overflow.
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
_DIGITS = 15


def md5_int_expr_spark(expr: str) -> str:
    """Same value as md5_int_expr but via Spark's conv() — one function
    call instead of a 15-digit instr/substring fold (~10x fewer string
    ops on the hot path).  DuckDB has no conv(), so the oracle keeps the
    shared fold; both parse the same hex prefix to the same BIGINT."""
    return (f"CAST(conv(substring(md5({expr}), 1, {_DIGITS}), 16, 10) "
            "AS BIGINT)")


def md5_int_expr(expr: str) -> str:
    """BIGINT hash of a string SQL expression, identical in both engines."""
    terms = []
    for i in range(_DIGITS):
        mul = 16 ** (_DIGITS - 1 - i)
        # CAST: Spark instr returns INT, and INT * INT overflows under ANSI
        # for multipliers that still fit INT (16^7 and below).
        d = (f"CAST(instr('{_HEX}', substring(md5({expr}), {i + 1}, 1)) - 1"
             " AS BIGINT)")
        terms.append(f"{d} * {mul}" if mul > 1 else d)
    return "(" + " + ".join(terms) + ")"


# Linear permutation mixing over the 60-bit base hash: h_i(b) =
# (A_i*(b mod 2^30) + B_i*(b div 2^30) + C_i) mod P with A,B < 2^22 and
# P < 2^52, so every intermediate fits int64 EXACTLY in both engines (max
# ~2^54).  One md5 fold per value, then pure arithmetic per permutation —
# a 2-universal hash of the (lo, hi) pair, plenty for minhash.
MIX_LO = 1 << 30
MIX_P = 4503599627370449          # prime < 2^52


def mix_params(num: int) -> list[tuple[int, int, int]]:
    """Deterministic (A_i, B_i, C_i) mixing constants (LCG, driver-side)."""
    state = 1234567
    out = []
    for _ in range(num):
        trip = []
        for bound in ((1 << 22) - 1, (1 << 22) - 1, MIX_P):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            trip.append(1 + state % bound if bound != MIX_P else state % MIX_P)
        out.append(tuple(trip))
    return out


def mix_expr(b: str, a: int, bb: int, c: int, intdiv: str = "DIV") -> str:
    """h = (a*lo + bb*hi + c) % P as SQL text; `intdiv` is the dialect's
    integer-division keyword (Spark: DIV, DuckDB: //)."""
    return (f"(({a} * (({b}) % {MIX_LO}) + {bb} * (({b}) {intdiv} {MIX_LO})"
            f" + {c}) % {MIX_P})")


# ---------------------------------------------------------------------------
# Closed-form hex ∩ axis-aligned-rect geometry (shared SQL)
#
# These let the DuckDB oracle reproduce the geometry KERNEL's numbers on
# rectangular landscapes/layers with no geometry library at all:
#
#   * hex_rect_area_layers — exact area(hexagon ∩ rect) via the clamp-Green
#     identity  area = Σ_edges ∫_edge (clamp(x, X0, X1) − X0)·[Y0≤y≤Y1] dy
#     over the CCW hex boundary (Fubini: ∮ M dy = ∬ ∂M/∂x dA needs only
#     M(·, y) absolutely continuous in x, which clamp is), each edge
#     integral a ≤3-piece trapezoid sum with breakpoints where x(t) crosses
#     X0/X1 — pure CASE/LEAST/GREATEST arithmetic.
#   * segment_rect_clip_len_expr — Liang–Barsky length of a segment inside
#     a rect (the exact value of geo.segment_length_in_polygons on rects,
#     reference border semantics R/generate_neighbours.R:100-133).
#
# Direction constants (edge offsets) are resolved at generation time, so
# the emitted SQL has no divisions by column values.
# ---------------------------------------------------------------------------


def hex_rect_area_layers(cx: str, cy: str, hex_width: float,
                         minx: float, miny: float, maxx: float, maxy: float,
                         out: str = "hr_area",
                         prefix: str = "__ha") -> list[list[tuple[str, str]]]:
    """Layers adding `out` = exact area(hex(cx, cy) ∩ rect).  `cx`/`cy`
    must be aliases available in the enclosing layered query."""
    verts = hexgrid.hex_vertex_offsets(hex_width)
    layer_u: list[tuple[str, str]] = []
    layer_m: list[tuple[str, str]] = []
    layer_g: list[tuple[str, str]] = []
    terms: list[str] = []
    for e in range(6):
        (axo, ayo), (bxo, byo) = verts[e], verts[(e + 1) % 6]
        dx, dy = bxo - axo, byo - ayo               # dy != 0 for all edges
        ax = f"(({cx}) + {_f(axo)})"
        ay = f"(({cy}) + {_f(ayo)})"
        t_y0 = f"(({_f(miny)} - {ay}) / {_f(dy)})"
        t_y1 = f"(({_f(maxy)} - {ay}) / {_f(dy)})"
        lo, hi = (t_y0, t_y1) if dy > 0 else (t_y1, t_y0)
        u0, u1 = f"{prefix}{e}_u0", f"{prefix}{e}_u1"
        layer_u.append((u0, f"GREATEST(0.0E0, {lo})"))
        layer_u.append((u1, f"LEAST(1.0E0, {hi})"))

        def g_of(t_expr: str) -> str:
            x_t = f"({ax} + ({t_expr}) * {_f(dx)})"
            return (f"(LEAST(GREATEST({x_t}, {_f(minx)}), {_f(maxx)})"
                    f" - {_f(minx)})")

        if dx == 0.0:
            gc = f"{prefix}{e}_gc"
            layer_g.append((gc, f"(LEAST(GREATEST({ax}, {_f(minx)}), "
                                f"{_f(maxx)}) - {_f(minx)})"))
            terms.append(f"CASE WHEN {u1} > {u0} THEN "
                         f"{_f(dy)} * ({u1} - {u0}) * {gc} ELSE 0.0E0 END")
        else:
            t_x0 = f"(({_f(minx)} - {ax}) / {_f(dx)})"
            t_x1 = f"(({_f(maxx)} - {ax}) / {_f(dx)})"
            c1, c2 = (t_x0, t_x1) if dx > 0 else (t_x1, t_x0)
            m1, m2 = f"{prefix}{e}_m1", f"{prefix}{e}_m2"
            layer_m.append((m1, f"LEAST(GREATEST({c1}, {u0}), {u1})"))
            layer_m.append((m2, f"LEAST(GREATEST({c2}, {u0}), {u1})"))
            g0, g1 = f"{prefix}{e}_g0", f"{prefix}{e}_g1"
            g2, g3 = f"{prefix}{e}_g2", f"{prefix}{e}_g3"
            layer_g.append((g0, g_of(u0)))
            layer_g.append((g1, g_of(m1)))
            layer_g.append((g2, g_of(m2)))
            layer_g.append((g3, g_of(u1)))
            terms.append(
                f"CASE WHEN {u1} > {u0} THEN {_f(dy)} * 0.5E0 * ("
                f"({m1} - {u0}) * ({g0} + {g1}) + "
                f"({m2} - {m1}) * ({g1} + {g2}) + "
                f"({u1} - {m2}) * ({g2} + {g3})) ELSE 0.0E0 END")
    return [layer_u, layer_m, layer_g, [(out, " + ".join(terms))]]


def segment_rect_clip_len_expr(px: str, py: str, ax_off: float, ay_off: float,
                               bx_off: float, by_off: float,
                               minx: float, miny: float,
                               maxx: float, maxy: float) -> str:
    """Length of the segment from (px+ax_off, py+ay_off) to
    (px+bx_off, py+by_off) inside the rect — Liang–Barsky, with the
    direction constants resolved at generation time."""
    import math
    dx, dy = bx_off - ax_off, by_off - ay_off
    ax = f"(({px}) + {_f(ax_off)})"
    ay = f"(({py}) + {_f(ay_off)})"
    los: list[str] = ["0.0E0"]
    his: list[str] = ["1.0E0"]
    gates: list[str] = []
    for d, a, lo_b, hi_b in ((dx, ax, minx, maxx), (dy, ay, miny, maxy)):
        if d > 0:
            los.append(f"(({_f(lo_b)} - {a}) / {_f(d)})")
            his.append(f"(({_f(hi_b)} - {a}) / {_f(d)})")
        elif d < 0:
            los.append(f"(({_f(hi_b)} - {a}) / {_f(d)})")
            his.append(f"(({_f(lo_b)} - {a}) / {_f(d)})")
        else:
            gates.append(f"({a} >= {_f(lo_b)} AND {a} <= {_f(hi_b)})")
    t0 = f"GREATEST({', '.join(los)})"
    t1 = f"LEAST({', '.join(his)})"
    seg = math.hypot(dx, dy)
    expr = f"GREATEST(0.0E0, ({t1}) - ({t0})) * {_f(seg)}"
    if gates:
        expr = f"CASE WHEN {' AND '.join(gates)} THEN {expr} ELSE 0.0E0 END"
    return expr


# ---------------------------------------------------------------------------
# Whole geocode+assign query over a table with an integer key
# ---------------------------------------------------------------------------

def assign_sql(table: str, key: str, keep: list[str] | None = None) -> str:
    """Full query: geocode `key` -> lon/lat -> (q, r, cell_id)."""
    keep = keep or []
    cols = ", ".join([key, *keep, "lon", "lat", "q", "r", "cell_id"])
    layers = geocode_layers(key) + hex_layers("lon", "lat", P.HEX_WIDTH)
    return build_query(table, layers, select=cols)
