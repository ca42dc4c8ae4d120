"""NumPy geometry kernel — the engine's vectorized replacement for GEOS.

The container ships no shapely/GEOS, so the geometry primitives the
reference leans on (st_area / st_centroid / st_intersection / st_distance /
st_simplify — SURVEY.md §2.7) are implemented here in pure NumPy and invoked
from Arrow-batched pandas UDFs — never per-row Python on the driver path.

Design constraints that make this tractable and FAST:
  * hexagons are CONVEX -> hex ∩ anything reduces to Sutherland–Hodgman
    clipping with the hex as the convex clip window (exact areas);
  * all reference land-use semantics only need AREAS of intersections
    (R/generate_patches.R:252-266), not the intersected geometries
    themselves, so degenerate zero-area bridges S-H can emit are harmless;
  * border lengths reduce to 1-D measure of a shared hex edge inside a
    polygon (R/generate_neighbours.R:100-133 computes the same quantity via
    a buffer-area trick; ours is the exact limit of theirs as buffer->0).

Representation: a *polygon* is ``list[np.ndarray]`` of rings (first = outer,
rest = holes), rings are open (no repeated last vertex), float64 (N,2).
A *multipolygon* is ``list[polygon]``.  WKB (little-endian, 2-D) codecs are
included so geometry travels between JVM and Python as BinaryType columns.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# --- WKB codecs --------------------------------------------------------------

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def ring_to_wkb_coords(ring: np.ndarray) -> bytes:
    closed = np.vstack([ring, ring[:1]])
    return struct.pack("<I", len(closed)) + closed.astype("<f8").tobytes()


def _wkb_counted(wkb_type: int, parts: list[bytes]) -> bytes:
    """Little-endian WKB header (byte order, type, part count) + parts."""
    return b"".join([b"\x01", struct.pack("<II", wkb_type, len(parts)),
                     *parts])


def polygon_to_wkb(polygon: list[np.ndarray]) -> bytes:
    return _wkb_counted(_WKB_POLYGON,
                        [ring_to_wkb_coords(r) for r in polygon])


def multipolygon_to_wkb(polys: list[list[np.ndarray]]) -> bytes:
    return _wkb_counted(_WKB_MULTIPOLYGON, [polygon_to_wkb(p) for p in polys])


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    off += 16 * n
    if n > 1 and arr[0][0] == arr[-1][0] and arr[0][1] == arr[-1][1]:
        arr = arr[:-1]
    return np.array(arr, dtype=np.float64), off


def _read_polygon(buf: memoryview, off: int) -> tuple[list[np.ndarray], int]:
    (nr,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nr):
        r, off = _read_ring(buf, off)
        rings.append(r)
    return rings, off


def wkb_to_geom(wkb: bytes):
    """Decode WKB -> ('polygon'|'multipolygon'|'point', payload)."""
    buf = memoryview(wkb)
    byte_order = buf[0]
    if byte_order != 1:                  # input validation, not an invariant
        raise ValueError("big-endian WKB not supported")
    (gtype,) = struct.unpack_from("<I", buf, 1)
    gtype = gtype & 0xFF
    off = 5
    if gtype == _WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return "point", (x, y)
    if gtype == _WKB_POLYGON:
        poly, _ = _read_polygon(buf, off)
        return "polygon", poly
    if gtype == _WKB_MULTIPOLYGON:
        (np_,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(np_):
            if buf[off] != 1:
                raise ValueError("big-endian WKB sub-geometry")
            (t2,) = struct.unpack_from("<I", buf, off + 1)
            if (t2 & 0xFF) != _WKB_POLYGON:
                raise ValueError("multipolygon member is not a polygon")
            poly, off = _read_polygon(buf, off + 5)
            polys.append(poly)
        return "multipolygon", polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def wkb_to_polygons(wkb: bytes) -> list[list[np.ndarray]]:
    """Decode WKB as a list of polygons regardless of poly/multipoly.
    Truncated or corrupt input raises ValueError naming the defect, not
    a raw struct.error from deep inside the parser (r5 fuzz — a
    malformed user-supplied WKB column should fail a task with a clear
    message)."""
    import struct

    try:
        kind, payload = wkb_to_geom(wkb)
    except (struct.error, IndexError) as e:
        # struct.error: truncated buffer; IndexError: corrupt counts.
        # AssertionError is deliberately NOT caught (ADVICE r05): input-
        # validation asserts in the parser are explicit ValueError raises
        # now, so a surviving assert is a genuine invariant failure that
        # must surface as a bug, not be masked as bad input.
        raise ValueError(f"malformed WKB ({e})") from None
    # a polygon with no rings (POLYGON EMPTY, alone or as a member) is
    # dropped: an empty geometry is the empty list
    if kind == "polygon":
        return [payload] if payload else []
    if kind == "multipolygon":
        return [poly for poly in payload if poly]
    raise ValueError(f"expected areal geometry, got {kind}")


# --- areas / centroids -------------------------------------------------------

def ring_area_signed(ring: np.ndarray) -> float:
    """Shoelace signed area (CCW positive).  st_area analogue."""
    if len(ring) < 3:
        return 0.0
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return 0.5 * float(np.sum(x * y2 - x2 * y))


def polygon_area(polygon: list[np.ndarray]) -> float:
    """abs(outer) - sum(abs(holes)) — reference: R/generate_patches.R:140."""
    if not polygon:
        return 0.0
    a = abs(ring_area_signed(polygon[0]))
    for hole in polygon[1:]:
        a -= abs(ring_area_signed(hole))
    return a


def polygons_area(polys: list[list[np.ndarray]]) -> float:
    return sum(polygon_area(p) for p in polys)


def ring_centroid(ring: np.ndarray) -> tuple[float, float, float]:
    """(cx, cy, signed_area) of one ring (area-weighted)."""
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2 - x2 * y
    a = 0.5 * float(np.sum(cross))
    if abs(a) < 1e-300:
        return float(x.mean()), float(y.mean()), 0.0
    cx = float(np.sum((x + x2) * cross)) / (6.0 * a)
    cy = float(np.sum((y + y2) * cross)) / (6.0 * a)
    return cx, cy, a


def polygons_centroid(polys: list[list[np.ndarray]]) -> tuple[float, float]:
    """Area-weighted centroid of a (multi)polygon with holes.

    st_centroid analogue (reference: R/generate_patches.R:377).
    """
    sa = 0.0
    sx = 0.0
    sy = 0.0
    for poly in polys:
        for i, ring in enumerate(poly):
            cx, cy, a = ring_centroid(ring)
            w = abs(a) if i == 0 else -abs(a)
            sa += w
            sx += cx * w
            sy += cy * w
    if sa == 0.0:
        pts = np.vstack([r for poly in polys for r in poly])
        return float(pts[:, 0].mean()), float(pts[:, 1].mean())
    return sx / sa, sy / sa


# --- Sutherland–Hodgman convex clipping ---------------------------------------

def ensure_ccw(ring: np.ndarray) -> np.ndarray:
    return ring if ring_area_signed(ring) >= 0 else ring[::-1]


def clip_ring_to_side(ring: np.ndarray, side: np.ndarray) -> np.ndarray:
    """One Sutherland–Hodgman step: the part of `ring` where the linear
    function whose values at the vertices are `side` is >= 0."""
    nxt = np.roll(side, -1)
    pts = []
    m = len(ring)
    for j in range(m):
        cur_in = side[j] >= 0.0
        nxt_in = nxt[j] >= 0.0
        p = ring[j]
        if cur_in:
            pts.append(p)
        if cur_in != nxt_in:
            denom = side[j] - nxt[j]
            t = side[j] / denom if denom != 0.0 else 0.0
            pts.append(p + t * (ring[(j + 1) % m] - p))
    return np.array(pts, dtype=np.float64) if pts else np.empty((0, 2))


def clip_ring_convex(subject: np.ndarray, clip_ccw: np.ndarray) -> np.ndarray:
    """Clip an arbitrary ring against a CONVEX CCW ring (Sutherland–Hodgman).

    Output ring may contain zero-area bridges when the true intersection is
    disconnected — its shoelace AREA is still exact, which is all the
    land-use rollup needs (reference: R/generate_patches.R:252-266).
    """
    out = subject
    n = len(clip_ccw)
    for i in range(n):
        if len(out) == 0:
            return out
        a = clip_ccw[i]
        b = clip_ccw[(i + 1) % n]
        ex, ey = b[0] - a[0], b[1] - a[1]
        # signed side of each subject vertex vs directed clip edge a->b
        dx = out[:, 0] - a[0]
        dy = out[:, 1] - a[1]
        side = ex * dy - ey * dx          # >=0 -> inside (left of edge)
        out = clip_ring_to_side(out, side)
    return out


def clip_polygon_to_convex(polygon: list[np.ndarray], clip_ccw: np.ndarray) -> list[np.ndarray]:
    """Clip polygon-with-holes to a convex window; returns rings (outer+holes)."""
    out = []
    outer = clip_ring_convex(ensure_ccw(polygon[0]), clip_ccw)
    if len(outer) < 3:
        return []
    out.append(outer)
    for hole in polygon[1:]:
        h = clip_ring_convex(ensure_ccw(hole), clip_ccw)
        if len(h) >= 3:
            out.append(h)
    return out


def area_polygons_in_convex(polys: list[list[np.ndarray]], clip_ccw: np.ndarray) -> float:
    """Exact area of (multi)polygon ∩ convex window."""
    total = 0.0
    for poly in polys:
        rings = clip_polygon_to_convex(poly, clip_ccw)
        if rings:
            total += polygon_area(rings)
    return total


# --- exact multi-component convex clipping -------------------------------------
#
# Sutherland–Hodgman (above) returns ONE ring whose area is exact but which
# connects disconnected pieces with zero-width bridges.  For split-patch
# semantics (st_cast(..., "POLYGON") after clipping, R/generate_patches.R:
# 160,182 and the F3 polygon-with-hole fixture) we need the actual
# components.  clip_polygon_components clips a polygon-with-holes by each
# half-plane of a convex window, maintaining a SET of rings: chains inside
# the half-plane are stitched back together along the cut line using the
# parity rule (region membership along the cut line alternates at each
# boundary crossing), which splits and merges components exactly.

def _clip_rings_halfplane(rings: list[np.ndarray], a: np.ndarray,
                          b: np.ndarray) -> list[np.ndarray]:
    """Clip a set of oriented rings (outers CCW, holes CW) to the left
    half-plane of the directed line a->b. Returns closed rings."""
    ex, ey = b[0] - a[0], b[1] - a[1]

    def side(pts):
        return ex * (pts[:, 1] - a[1]) - ey * (pts[:, 0] - a[0])

    chains = []          # open chains: list[np.ndarray], endpoints on line
    closed = []          # rings untouched by the line
    eps = 1e-12 * max(abs(ex), abs(ey), 1.0)
    for ring in rings:
        s = side(ring)
        if (s >= -eps).all():
            closed.append(ring)
            continue
        if (s <= eps).all():
            continue
        n = len(ring)
        # walk, emitting chains of inside vertices bounded by crossings
        cur: list[np.ndarray] = []
        ring_chains = []
        for j in range(n):
            p, q = ring[j], ring[(j + 1) % n]
            sp, sq = s[j], s[(j + 1) % n]
            if sp >= 0:
                cur.append(p)
            if (sp >= 0) != (sq >= 0):
                t = sp / (sp - sq)
                ip = p + t * (q - p)
                if sp >= 0:          # leaving: close chain at ip
                    cur.append(ip)
                    ring_chains.append(np.array(cur))
                    cur = []
                else:                # entering: start new chain at ip
                    cur = [ip]
        if cur:
            # wrap-around: the walk started mid-chain; prepend to first
            if ring_chains and s[0] >= 0:
                ring_chains[0] = np.vstack([np.array(cur), ring_chains[0]])
            elif cur and len(cur) >= 2:
                ring_chains.append(np.array(cur))
        chains.extend(c for c in ring_chains if len(c) >= 2)

    if not chains:
        return closed

    # stitch chains along the cut line by parity
    # param t along the line of each chain's start/end
    def t_of(p):
        return (p[0] - a[0]) * ex + (p[1] - a[1]) * ey

    # endpoint handles: (chain_idx, 0=its start | 1=its end).  Events are
    # sorted by t with END before START at ties (a touching vertex/hole
    # yields a zero-width gap that must pair with itself, not cross over a
    # real interval), then consecutive pairs (2k, 2k+1) span the interior
    # gaps along the cut line and connect their two handles.  Traversal
    # follows connections through either handle kind: arriving at a START
    # appends the chain forward, arriving at an END appends it REVERSED —
    # so end-end and start-start meetings (hole tangent to the line) close
    # correctly instead of mis-linking (ADVICE r01).
    events = []          # (t, end_before_start, chain_idx, handle_end)
    for i, c in enumerate(chains):
        events.append((t_of(c[0]), 1, i, 0))     # chain START
        events.append((t_of(c[-1]), 0, i, 1))    # chain END (ties first)
    events.sort(key=lambda e: (e[0], e[1]))
    conn: dict[tuple[int, int], tuple[int, int]] = {}
    for k in range(0, len(events) - 1, 2):
        _, _, i1, h1 = events[k]
        _, _, i2, h2 = events[k + 1]
        conn[(i1, h1)] = (i2, h2)
        conn[(i2, h2)] = (i1, h1)
    out = list(closed)
    used = set()
    for start in range(len(chains)):
        if start in used:
            continue
        used.add(start)
        ring_pts = [chains[start]]
        cur = (start, 1)                 # standing at the END of `start`
        guard = 0
        while guard <= 2 * len(chains):
            guard += 1
            nxt = conn.get(cur)
            if nxt is None:
                break
            ci, ch = nxt
            if ci == start and ch == 0:
                break                    # ring closed at origin's start
            if ci in used:
                break                    # degenerate input; bail safely
            used.add(ci)
            if ch == 0:                  # entered at its start: forward
                ring_pts.append(chains[ci])
                cur = (ci, 1)
            else:                        # entered at its end: reversed
                ring_pts.append(chains[ci][::-1])
                cur = (ci, 0)
        ring = np.vstack(ring_pts)
        # drop duplicate consecutive points
        keep = np.ones(len(ring), dtype=bool)
        keep[1:] = (np.abs(np.diff(ring, axis=0)).sum(axis=1) > 1e-12)
        ring = ring[keep]
        if len(ring) >= 3:
            out.append(ring)
    return out


def clip_polygon_components(polygon: list[np.ndarray],
                            clip_ccw: np.ndarray) -> list[list[np.ndarray]]:
    """Exact polygon-with-holes ∩ convex window, returned as CONNECTED
    COMPONENTS (list of polygons, each outer+holes).  Orientation contract:
    input outer CCW, holes CW; output preserves it."""
    rings = [ensure_ccw(polygon[0])]
    for h in polygon[1:]:
        hh = ensure_ccw(h)[::-1]          # holes clockwise
        rings.append(hh)
    n = len(clip_ccw)
    for i in range(n):
        rings = _clip_rings_halfplane(rings, clip_ccw[i], clip_ccw[(i + 1) % n])
        if not rings:
            return []
    outers = [(r, abs(ring_area_signed(r))) for r in rings
              if ring_area_signed(r) > 0]
    holes = [r for r in rings if ring_area_signed(r) < 0]
    # assign each hole to the smallest containing outer
    comps: list[list[np.ndarray]] = [[o] for o, _ in
                                     sorted(outers, key=lambda t: -t[1])]
    for h in holes:
        px, py = h[0, 0:1], h[0, 1:2]
        best = None
        best_area = None
        for idx, comp in enumerate(comps):
            if points_in_ring(px, py, comp[0])[0]:
                area = abs(ring_area_signed(comp[0]))
                if best is None or area < best_area:
                    best, best_area = idx, area
        if best is not None:
            comps[best].append(h)
    return comps


# --- point in polygon ----------------------------------------------------------

def ring_segments(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                             np.ndarray, np.ndarray]:
    """Ring -> (x1, y1, x2, y2) segment endpoint arrays."""
    x1, y1 = ring[:, 0], ring[:, 1]
    return x1, y1, np.roll(x1, -1), np.roll(y1, -1)


def _poly_set_segments(polys: list[list[np.ndarray]]):
    """All ring segments of a polygon set + owning-polygon ids."""
    parts = [(*ring_segments(ring), np.full(len(ring), p_i, dtype=np.int64))
             for p_i, poly in enumerate(polys) for ring in poly]
    if not parts:
        z = np.empty(0)
        return z, z, z, z, np.empty(0, dtype=np.int64)
    return tuple(np.concatenate([p[i] for p in parts]) for i in range(5))


def points_in_ring_segments(px: np.ndarray, py: np.ndarray,
                            x1: np.ndarray, y1: np.ndarray,
                            x2: np.ndarray, y2: np.ndarray) -> np.ndarray:
    """Ray-cast parity over an explicit segment set.  Crossing parity is a
    sum over segments, so callers may pass any SUBSET that still contains
    every segment able to cross a rightward ray from the points (y-range
    straddles some py, and not entirely left of every px)."""
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(x1)):
        cond = (y1[i] > py) != (y2[i] > py)
        if not cond.any():
            continue
        xin = (x2[i] - x1[i]) * (py - y1[i]) / (y2[i] - y1[i] + 0.0) + x1[i]
        inside ^= cond & (px < xin)
    return inside


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast point-in-ring (boundary counts as inside-ish)."""
    x1, y1, x2, y2 = ring_segments(ring)
    return points_in_ring_segments(px, py, x1, y1, x2, y2)


def points_in_polygons(px: np.ndarray, py: np.ndarray,
                       polys: list[list[np.ndarray]]) -> np.ndarray:
    res = np.zeros(len(px), dtype=bool)
    for poly in polys:
        inn = points_in_ring(px, py, poly[0])
        for hole in poly[1:]:
            inn &= ~points_in_ring(px, py, hole)
        res |= inn
    return res


# --- distances -------------------------------------------------------------------

def dist_points_to_segment_arrays(px: np.ndarray, py: np.ndarray,
                                  ax: np.ndarray, ay: np.ndarray,
                                  bx: np.ndarray, by: np.ndarray) -> np.ndarray:
    """Min distance from each point to an explicit segment set, evaluated in
    chunks of 256 segments so the (n_points x n_segments) temporary never
    exceeds n_points x 256 (the OOM guard for huge boundary rings).
    Returns +inf where the segment set is empty."""
    d = np.full(len(px), np.inf)
    for s in range(0, len(ax), 256):
        e = s + 256
        abx = (bx[s:e] - ax[s:e])[None, :]
        aby = (by[s:e] - ay[s:e])[None, :]
        apx = px[:, None] - ax[s:e][None, :]
        apy = py[:, None] - ay[s:e][None, :]
        denom = abx * abx + aby * aby
        denom = np.where(denom == 0.0, 1.0, denom)
        t = np.clip((apx * abx + apy * aby) / denom, 0.0, 1.0)
        dx = apx - t * abx
        dy = apy - t * aby
        d = np.minimum(d, np.sqrt((dx * dx + dy * dy).min(axis=1)))
    return d


def boundary_distance(px: np.ndarray, py: np.ndarray,
                      polys: list[list[np.ndarray]]) -> np.ndarray:
    """Distance to the nearest boundary ring (no inside-zeroing) — used for
    the full-cell fast path: a hex whose centroid is further from every
    boundary than its circumradius is entirely inside or entirely outside."""
    x1, y1, x2, y2, _ = _poly_set_segments(polys)
    return dist_points_to_segment_arrays(px, py, x1, y1, x2, y2)


def dist_points_to_polygons(px: np.ndarray, py: np.ndarray,
                            polys: list[list[np.ndarray]]) -> np.ndarray:
    """st_distance(point, areal geometry): 0 inside, else boundary distance.

    Reference usage: centroid prefilter dist < hexhgt/1.9
    (R/generate_patches.R:117-122).
    """
    d = boundary_distance(px, py, polys)
    d[points_in_polygons(px, py, polys)] = 0.0
    return d


def polygons_distance(a: list[list[np.ndarray]],
                      b: list[list[np.ndarray]]) -> float:
    """Min distance between two (multi)polygons (0 if they touch/overlap).

    st_distance(areal, areal) analogue (R/generate_connectedness.R:48):
    boundary-to-boundary minimum is attained at a vertex-segment pair,
    PROVIDED the boundaries do not intersect; intersection is detected by
    mutual vertex containment (covers containment and shared-edge touch,
    where a vertex of one lies on/inside the other) plus a transversal
    segment-crossing test (covers crossing polygons with no vertex inside
    the other — two straight segments meeting at interior points either
    cross transversally or are collinear, and the collinear case puts a
    vertex of one on the other, so the three tests are jointly complete).
    """
    av = np.vstack([r for poly in a for r in poly])
    bv = np.vstack([r for poly in b for r in poly])
    if points_in_polygons(av[:, 0], av[:, 1], b).any():
        return 0.0
    if points_in_polygons(bv[:, 0], bv[:, 1], a).any():
        return 0.0
    x1, y1, x2, y2, pid = _poly_set_segments(a + b)
    on_a = pid < len(a)
    for _ in _crossing_xs_block(x1, y1, x2, y2, np.nonzero(on_a)[0],
                                np.nonzero(~on_a)[0]):
        return 0.0              # a transversal crossing: stop at the first
    return min(float(boundary_distance(av[:, 0], av[:, 1], b).min()),
               float(boundary_distance(bv[:, 0], bv[:, 1], a).min()))


# --- segment ∩ polygon 1-D measure (border lengths) -------------------------------

def segment_intervals_in_polygons(p0: np.ndarray, p1: np.ndarray,
                                  polys: list[list[np.ndarray]]
                                  ) -> list[tuple[float, float]]:
    """Parameter intervals t ∈ [0,1] of segment p0-p1 inside the polygons."""
    seg = p1 - p0
    if float(np.hypot(*seg)) == 0.0:
        return []
    ts = [0.0, 1.0]
    for poly in polys:
        for ring in poly:
            a = ring
            b = np.roll(ring, -1, axis=0)
            rx = b[:, 0] - a[:, 0]
            ry = b[:, 1] - a[:, 1]
            denom = seg[0] * ry - seg[1] * rx
            qpx = a[:, 0] - p0[0]
            qpy = a[:, 1] - p0[1]
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.where(denom != 0.0, (qpx * ry - qpy * rx) / denom, -1.0)
                u = np.where(denom != 0.0, (qpx * seg[1] - qpy * seg[0]) / denom, -1.0)
            mask = (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
            ts.extend(t[mask].tolist())
    ts = sorted(set(ts))
    out = []
    for i in range(len(ts) - 1):
        mid = 0.5 * (ts[i] + ts[i + 1])
        mx = np.array([p0[0] + mid * seg[0]])
        my = np.array([p0[1] + mid * seg[1]])
        if points_in_polygons(mx, my, polys)[0]:
            out.append((ts[i], ts[i + 1]))
    return out


def intervals_intersect_length(a: list[tuple[float, float]],
                               b: list[tuple[float, float]]) -> float:
    """Total overlap of two interval lists (each sorted, disjoint)."""
    total = 0.0
    i = j = 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if hi > lo:
            total += hi - lo
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


def segment_length_in_polygons(p0: np.ndarray, p1: np.ndarray,
                               polys: list[list[np.ndarray]]) -> float:
    """Length of the part of segment p0-p1 lying inside the (multi)polygon.

    Exact replacement for the reference's buffered-intersection border
    estimate  Border = area(buffer(g1) ∩ buffer(g2)) / (2*buffer_dist)
    (R/generate_neighbours.R:100-133): as buffer_dist -> 0 that quantity
    converges to the shared-edge length computed here.
    """
    seg_len = float(np.hypot(*(p1 - p0)))
    return seg_len * sum(t1 - t0 for t0, t1 in
                         segment_intervals_in_polygons(p0, p1, polys))


# --- simplification -----------------------------------------------------------------

def _dp_keep_mask(ring: np.ndarray, tolerance: float) -> np.ndarray:
    """Raw DP keep mask over the closed ring (no minimum-vertex fallback)."""
    pts = np.vstack([ring, ring[:1]])
    keep = np.zeros(len(pts), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        seg = pts[i1] - pts[i0]
        seg_len = np.hypot(*seg)
        sub = pts[i0 + 1:i1]
        if seg_len == 0.0:
            d = np.hypot(sub[:, 0] - pts[i0][0], sub[:, 1] - pts[i0][1])
        else:
            d = np.abs(seg[0] * (sub[:, 1] - pts[i0][1]) - seg[1] * (sub[:, 0] - pts[i0][0])) / seg_len
        jmax = int(np.argmax(d))
        if d[jmax] > tolerance:
            j = i0 + 1 + jmax
            keep[j] = True
            stack.extend([(i0, j), (j, i1)])
    return keep


def dp_keep_count(ring: np.ndarray, tolerance: float) -> int:
    """Vertices DP would keep at this tolerance — MONOTONE non-increasing
    in tolerance (unlike len(douglas_peucker(...)), whose degenerate-ring
    fallback jumps back to the input size), so calibration can bisect it."""
    if len(ring) <= 4 or tolerance <= 0:
        return len(ring)
    return int(_dp_keep_mask(ring, tolerance).sum()) - 1


def douglas_peucker(ring: np.ndarray, tolerance: float) -> np.ndarray:
    """DP simplify an open ring (kept closed logically).

    Reference pins method="dp" in ms_simplify (R/extract_corine.R:273); the
    keep-ratio knob becomes a tolerance here (SURVEY.md §7.3 item 2).
    """
    if len(ring) <= 4 or tolerance <= 0:
        return ring
    out = np.vstack([ring, ring[:1]])[_dp_keep_mask(ring, tolerance)][:-1]
    return out if len(out) >= 3 else ring


def simplify_polygons_keep(polys: list[list[np.ndarray]],
                           keep: float) -> list[list[np.ndarray]]:
    """ms_simplify(keep=, method="dp") (R/extract_corine.R:273): binary-
    search (40 halvings) ONE global DP tolerance so the kept-vertex ratio
    across all rings lands on `keep` (vertex counts are monotone
    non-increasing in tolerance, so bisection converges; DP granularity
    limits exactness to the nearest achievable count)."""
    total = sum(len(r) for poly in polys for r in poly)
    if keep >= 1.0 or total == 0:
        return polys

    def count(tol: float) -> int:
        return sum(dp_keep_count(r, tol) for poly in polys for r in poly)

    x0, y0, x1, y1 = polygons_bounds(polys)
    lo, hi = 0.0, float(np.hypot(x1 - x0, y1 - y0))
    target = keep * total
    for _ in range(40):
        mid = 0.5 * (lo + hi)
        if count(mid) > target:
            lo = mid
        else:
            hi = mid
    tol = lo if abs(count(lo) - target) <= abs(count(hi) - target) else hi
    return [[douglas_peucker(r, tol) for r in poly] for poly in polys]


# --- bounds -----------------------------------------------------------------------

def interior_point(poly: list[np.ndarray]) -> tuple[float, float]:
    """A point strictly inside the polygon (holes respected).

    Scanline at a y strictly between two adjacent distinct outer-ring
    vertex ys (so no vertex sits on the line — parity is robust), midpoint
    of the widest inside interval.  Unlike the centroid, this is guaranteed
    interior for concave shapes; used to assign clipped pieces to the
    connected component that contains them."""
    outer = poly[0]
    ys = np.unique(outer[:, 1])
    if len(ys) < 2:
        return float(outer[:, 0].mean()), float(ys[0])
    k = (len(ys) - 1) // 2
    y = 0.5 * (ys[k] + ys[k + 1])
    xs = []
    for ring in poly:
        x1, y1, x2, y2 = ring_segments(ring)
        c = (y1 <= y) != (y2 <= y)
        if c.any():
            t = (y - y1[c]) / (y2[c] - y1[c])
            xs.append(x1[c] + t * (x2[c] - x1[c]))
    xs = np.sort(np.concatenate(xs)) if xs else np.empty(0)
    best_w, best_x = -1.0, float(outer[:, 0].mean())
    for j in range(0, len(xs) // 2 * 2, 2):
        wd = xs[j + 1] - xs[j]
        if wd > best_w:
            best_w, best_x = float(wd), float(0.5 * (xs[j] + xs[j + 1]))
    return best_x, float(y)


# --- exact boolean areas of ARBITRARY polygon sets (strip sweep) -----------------
#
# Trapezoidal decomposition: between consecutive event xs (all segment
# endpoints + all proper pairwise segment crossings) every ring's vertical
# cross-section endpoints move linearly and never reorder, so the measure of
# any boolean combination of the sets is LINEAR in x within a strip; the
# average of two interior samples times the width integrates it exactly.
# O(E^2) pairwise crossings + O(strips x E) evaluations — meant for
# per-group driver/UDF geometry (dissolve, impassable accounting), where E
# is bounded, not for the per-row hot path.

def _crossing_xs_block(x1, y1, x2, y2, ia, ib):
    """Proper interior crossings between segment index sets ia x ib
    (vectorized): yields their xs per 512-index chunk of ia that has any,
    so a caller that only asks whether any pair crosses stops at the
    first."""
    sx = (x2[ib] - x1[ib])[None, :]
    sy = (y2[ib] - y1[ib])[None, :]
    bx1 = x1[ib][None, :]
    by1 = y1[ib][None, :]
    for i0 in range(0, len(ia), 512):
        sel = ia[i0:i0 + 512]
        ax = x1[sel][:, None]
        ay = y1[sel][:, None]
        rx = (x2[sel] - x1[sel])[:, None]
        ry = (y2[sel] - y1[sel])[:, None]
        qpx = bx1 - ax
        qpy = by1 - ay
        denom = rx * sy - ry * sx
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (qpx * sy - qpy * sx) / denom
            u = (qpx * ry - qpy * rx) / denom
        ok = (np.isfinite(t) & np.isfinite(u) &
              (t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0))
        if ok.any():
            with np.errstate(invalid="ignore"):
                yield (ax + t * rx)[ok]


def _pairwise_crossing_xs(x1, y1, x2, y2) -> np.ndarray:
    """x coordinates of proper interior crossings between any two segments.

    Above ~1k segments the all-pairs scan is binned on x (candidates must
    share an x-bin; a crossing is kept only by the bin containing it, so
    each is reported exactly once) — for boundary-like inputs (short
    segments spread over a wide extent) this cuts the O(E²) pair count by
    the bin count, the difference between a 30 s and a 1 s union of a
    dense 6k-feature cluster."""
    m = len(x1)
    if m == 0:
        return np.empty(0)
    if m <= 1024:
        idx = np.arange(m)
        return np.concatenate([np.empty(0), *_crossing_xs_block(
            x1, y1, x2, y2, idx, idx)])
    lo = np.minimum(x1, x2)
    hi = np.maximum(x1, x2)
    ext_lo, ext_hi = float(lo.min()), float(hi.max())
    span = float(np.median(hi - lo))
    width = max(span * 4.0, (ext_hi - ext_lo) / 4096.0, 1e-300)
    b0 = np.floor((lo - ext_lo) / width).astype(np.int64)
    b1 = np.floor((hi - ext_lo) / width).astype(np.int64)
    buckets: dict[int, list[int]] = {}
    for i in range(m):
        for b in range(b0[i], b1[i] + 1):
            buckets.setdefault(b, []).append(i)
    out = []
    for b, members in buckets.items():
        ia = np.array(members, dtype=np.int64)
        xs = np.concatenate([np.empty(0), *_crossing_xs_block(
            x1, y1, x2, y2, ia, ia)])
        if len(xs):
            blo = ext_lo + b * width
            keep = (xs >= blo) & (xs < blo + width)
            if keep.any():
                out.append(xs[keep])
    return np.concatenate(out) if out else np.empty(0)


def _boolean_area(a: list[list[np.ndarray]],
                  b: list[list[np.ndarray]] | None) -> float:
    ex1, ey1, ex2, ey2, pid = _poly_set_segments(a + (b or []))
    if len(ex1) == 0:
        return 0.0
    on_a = pid < len(a)
    xs = np.unique(np.concatenate(
        [ex1, ex2, _pairwise_crossing_xs(ex1, ey1, ex2, ey2)]))
    area = 0.0
    for k in range(len(xs) - 1):
        x0, x1v = float(xs[k]), float(xs[k + 1])
        w = x1v - x0
        if w <= 0.0:
            continue
        for xm in (x0 + 0.25 * w, x0 + 0.75 * w):
            ia = _merged_intervals_at(ex1, ey1, ex2, ey2, pid, xm, sel=on_a)
            if b is None:
                length = sum(hi - lo for lo, hi, _, _ in ia)
            else:
                length = intervals_intersect_length(ia, _merged_intervals_at(
                    ex1, ey1, ex2, ey2, pid, xm, sel=~on_a))
            area += 0.5 * float(length) * w
    return area


def union_area(polys: list[list[np.ndarray]]) -> float:
    """Exact area of the union of arbitrary (multi)polygons — overlap
    counted ONCE (st_union semantics, R/extract_corine.R:156)."""
    return _boolean_area(polys, None)


def intersection_area(a: list[list[np.ndarray]],
                      b: list[list[np.ndarray]]) -> float:
    """Exact area of (union of a) ∩ (union of b) for arbitrary polygons."""
    return _boolean_area(a, b)


# --- exact union GEOMETRY (trapezoid sweep + boundary trace) -----------------
#
# st_union returning the actual dissolved polygon (R/extract_corine.R:156,
# R/load_corine.R:254,278).  The same event-x strip decomposition that powers
# union_area: within a strip (between consecutive segment endpoints/crossings)
# the union's y-interval structure is fixed and its endpoints move linearly,
# so each (strip, merged interval) is an exact trapezoid whose top/bottom
# edges lie ON input segments.  The union boundary is then: all trapezoid
# top/bottom edges, plus the symmetric difference of adjacent strips'
# intervals as vertical seam edges at each event x.  Directed edges
# (interior on the LEFT) stitch into CCW outer rings and CW hole rings by a
# leftmost-turn walk.  Exactness: every traced ring vertex is an input
# vertex, a segment crossing, or a segment evaluation at an event x — no
# approximation; the result is validated against the independent strip-sweep
# union_area and the caller falls back if tracing ever fails.


class UnionTraceError(ValueError):
    """Raised when boundary stitching fails on degenerate input."""


def find(parent, i):
    """Union-find root of `i` with path halving; `parent` is a list or
    dict mapping each element to its parent (roots map to themselves)."""
    while parent[i] != i:
        parent[i] = parent[parent[i]]
        i = parent[i]
    return i


def overlap_components(polys: list[list[np.ndarray]],
                       tol: float | None = None) -> list[list[int]]:
    """Connected components of a polygon set under touch/overlap — the
    st_union merge criterion (distance == 0).  Candidate pairs come from a
    bbox grid hash (cell = median bbox size), NOT an O(n²) loop (VERDICT
    r02 Missing #2); the exact test is polygons_distance (crossing-aware).

    `tol` is the touch snap tolerance (GEOS-style): polygons within `tol`
    merge.  Default = 1e-9 x the set's extent — needed because a traced
    partial-union boundary carries interpolated vertices, so two partials
    sharing an edge can sit ~1 ulp apart rather than at exact distance 0.
    """
    n = len(polys)
    if n <= 1:
        return [[i] for i in range(n)]
    bounds = np.array([polygons_bounds([p]) for p in polys])
    if tol is None:
        ext = max(float(bounds[:, 2].max() - bounds[:, 0].min()),
                  float(bounds[:, 3].max() - bounds[:, 1].min()), 1e-300)
        tol = 1e-9 * ext
    wids = bounds[:, 2] - bounds[:, 0]
    hgts = bounds[:, 3] - bounds[:, 1]
    cell = max(float(np.median(wids)), float(np.median(hgts)), 1e-12)

    parent = list(range(n))
    grid: dict[tuple[int, int], list[int]] = {}
    spans = []
    for i in range(n):
        gx0 = int(np.floor(bounds[i, 0] / cell))
        gx1 = int(np.floor(bounds[i, 2] / cell))
        gy0 = int(np.floor(bounds[i, 1] / cell))
        gy1 = int(np.floor(bounds[i, 3] / cell))
        spans.append((gx0, gx1, gy0, gy1))
        for gx in range(gx0, gx1 + 1):
            for gy in range(gy0, gy1 + 1):
                grid.setdefault((gx, gy), []).append(i)
    tested: set[tuple[int, int]] = set()
    for members in grid.values():
        for ai in range(len(members)):
            i = members[ai]
            for bi in range(ai + 1, len(members)):
                j = members[bi]
                if find(parent, i) == find(parent, j):
                    continue
                key = (i, j) if i < j else (j, i)
                if key in tested:
                    continue
                tested.add(key)
                bi_, bj_ = bounds[i], bounds[j]
                if (bi_[2] < bj_[0] - tol or bj_[2] < bi_[0] - tol or
                        bi_[3] < bj_[1] - tol or bj_[3] < bi_[1] - tol):
                    continue
                if polygons_distance([polys[i]], [polys[j]]) <= tol:
                    parent[find(parent, i)] = find(parent, j)
    comps: dict[int, list[int]] = {}
    for i in range(n):
        comps.setdefault(find(parent, i), []).append(i)
    return [sorted(v) for v in sorted(comps.values())]


def _merged_intervals_at(x1, y1, x2, y2, pid, xm: float,
                         sel: np.ndarray | None = None):
    """Union-merged y-intervals of the polygon set at vertical line xm,
    keeping values AND the SEGMENT indices that bound each merged
    interval.  `sel` optionally restricts to a boolean segment subset
    (used to evaluate one side of a two-set boolean op).  Returns list of
    (lo_val, hi_val, lo_seg, hi_seg)."""
    mask = (x1 <= xm) != (x2 <= xm)
    if sel is not None:
        mask = mask & sel
    idx = np.nonzero(mask)[0]
    if len(idx) == 0:
        return []
    t = (xm - x1[idx]) / (x2[idx] - x1[idx])
    ys = y1[idx] + t * (y2[idx] - y1[idx])
    order = np.lexsort((ys, pid[idx]))
    idx, ys, pids = idx[order], ys[order], pid[idx][order]
    # per-polygon even-odd pairing -> raw intervals
    raw = []          # (y_lo, y_hi, lo_seg, hi_seg)
    s = 0
    npts = len(idx)
    while s < npts:
        e = s
        while e < npts and pids[e] == pids[s]:
            e += 1
        for j in range(s, e - 1, 2):
            if ys[j + 1] > ys[j]:
                raw.append((ys[j], ys[j + 1], idx[j], idx[j + 1]))
        s = e
    if not raw:
        return []
    raw.sort()
    merged = []
    lo, hi, lo_s, hi_s = raw[0]
    for y_lo, y_hi, sl, sh in raw[1:]:
        if y_lo <= hi:
            if y_hi > hi:
                hi, hi_s = y_hi, sh
        else:
            merged.append((lo, hi, lo_s, hi_s))
            lo, hi, lo_s, hi_s = y_lo, y_hi, sl, sh
    merged.append((lo, hi, lo_s, hi_s))
    return merged


def _difference_intervals(ia: list, ib: list) -> list:
    """Pointwise difference (A minus B) of two sorted merged-interval
    lists (lo, hi, lo_seg, hi_seg)."""
    out = []
    for alo, ahi, als, ahs in ia:
        cur_lo, cur_ls = alo, als
        done = False
        for blo, bhi, bls, bhs in ib:
            if bhi <= cur_lo:
                continue
            if blo >= ahi:
                break
            if blo > cur_lo:
                out.append((cur_lo, blo, cur_ls, bls))
            cur_lo, cur_ls = bhi, bhs
            if cur_lo >= ahi:
                done = True
                break
        if not done and cur_lo < ahi:
            out.append((cur_lo, ahi, cur_ls, ahs))
    return out


def _seam_edges(x: float, left, right, tol: float) -> list[tuple]:
    """Vertical boundary pieces at event x: symmetric difference of the
    left strip's and right strip's y-interval sets.  Directed with the
    union interior on the LEFT: left-only pieces walk +y, right-only -y.

    Vectorised (r4): interval membership via searchsorted over the
    lo-sorted interval arrays instead of a per-midpoint Python `any` —
    this function dominated the big-union stitch profile.  Intervals are
    disjoint beyond ~tol by construction; the idx and idx-1 probes cover
    tol-scale touching at seam endpoints."""
    if not left and not right:
        return []
    la = np.asarray(left, dtype=np.float64).reshape(-1, 2)
    ra = np.asarray(right, dtype=np.float64).reshape(-1, 2)
    pts = np.unique(np.concatenate([la.ravel(), ra.ravel()]))
    if len(pts) < 2:
        return []
    # cluster breakpoints within tol of the last KEPT representative
    # (evaluations of the same geometric point from different segments
    # differ by ~1 ulp).  NOTE: distance-from-last-kept, NOT adjacent
    # diff — a chain of sub-tol steps spanning more than tol must keep
    # intermediate representatives (r4 review caught the vectorised
    # adjacent-diff form silently collapsing such chains; the loop is
    # O(breakpoints) and far off the profile — the hotspot was the
    # membership test below, which stays vectorised)
    rep_l: list[float] = []
    for p in pts:
        if not rep_l or p - rep_l[-1] > tol:
            rep_l.append(float(p))
    rep = np.asarray(rep_l, dtype=np.float64)
    if len(rep) < 2:
        return []
    u = rep[:-1]
    v = rep[1:]
    m = 0.5 * (u + v)

    def member(a: np.ndarray) -> np.ndarray:
        if len(a) == 0:
            return np.zeros(len(m), dtype=bool)
        a = a[np.argsort(a[:, 0], kind="stable")]
        lo, hi = a[:, 0], a[:, 1]
        idx = np.searchsorted(lo, m + tol, side="right") - 1
        res = (idx >= 0) & (m <= hi[np.clip(idx, 0, len(hi) - 1)] + tol)
        prev = idx - 1
        res |= (prev >= 0) & (m <= hi[np.clip(prev, 0, len(hi) - 1)] + tol)
        return res

    in_l = member(la)
    in_r = member(ra)
    out = []
    for i in np.nonzero(in_l != in_r)[0]:
        if in_l[i]:
            out.append((x, u[i], x, v[i]))
        else:
            out.append((x, v[i], x, u[i]))
    return out


def _stitch_rings(edges: list[tuple], eps: float) -> list[np.ndarray]:
    """Stitch directed edges (interior-left) into closed rings.  Vertices
    merge within eps (3x3 bin neighbourhood lookup); junctions resolve by
    the leftmost-turn rule, which keeps corner-touching regions separate."""
    if not edges:
        return []
    nodes_xy: list[tuple[float, float]] = []
    bins: dict[tuple[int, int], list[int]] = {}
    # bulk-quantise every endpoint once (one vectorised floor instead of
    # 2E scalar np.floor calls — the stitch profile's hottest line, r4)
    pts_arr = np.asarray(edges, dtype=np.float64).reshape(-1, 2)
    qbin = np.floor(pts_arr / eps).astype(np.int64)
    pts_list = pts_arr.tolist()
    qbin_list = qbin.tolist()

    def node_of(pt_i: int) -> int:
        px, py = pts_list[pt_i]
        bx, by = qbin_list[pt_i]
        for gx in (bx - 1, bx, bx + 1):
            for gy in (by - 1, by, by + 1):
                for ni in bins.get((gx, gy), ()):
                    qx, qy = nodes_xy[ni]
                    if abs(qx - px) <= eps and abs(qy - py) <= eps:
                        return ni
        ni = len(nodes_xy)
        nodes_xy.append((px, py))
        bins.setdefault((bx, by), []).append(ni)
        return ni

    a_node, b_node, out_adj = [], [], {}
    for ei in range(len(edges)):
        na = node_of(2 * ei)
        nb = node_of(2 * ei + 1)
        a_node.append(na)
        b_node.append(nb)
        out_adj.setdefault(na, []).append(ei)
    used = [False] * len(edges)
    rings = []
    for e0 in range(len(edges)):
        if used[e0] or a_node[e0] == b_node[e0]:
            continue
        start = a_node[e0]
        pts = []
        e = e0
        guard = 0
        while True:
            guard += 1
            if guard > len(edges) + 1:
                raise UnionTraceError("stitch walk did not close")
            used[e] = True
            pts.append(edges[e][:2])
            cur = b_node[e]
            if cur == start:
                break
            cands = [f for f in out_adj.get(cur, ()) if not used[f]]
            if not cands:
                raise UnionTraceError("stitch walk hit a dead end")
            if len(cands) == 1:
                e = cands[0]
            else:
                dinx = edges[e][2] - edges[e][0]
                diny = edges[e][3] - edges[e][1]

                def turn(f: int) -> float:
                    dox = edges[f][2] - edges[f][0]
                    doy = edges[f][3] - edges[f][1]
                    return math.atan2(dinx * doy - diny * dox,
                                      dinx * dox + diny * doy)
                e = max(cands, key=turn)
        ring = np.array(pts, dtype=np.float64)
        # drop consecutive duplicates and collinear midpoints
        keep = np.ones(len(ring), dtype=bool)
        keep[1:] = (np.abs(np.diff(ring, axis=0)).sum(axis=1) > eps)
        ring = ring[keep]
        if len(ring) >= 3:
            prv = np.roll(ring, 1, axis=0)
            nxt = np.roll(ring, -1, axis=0)
            cross = ((ring[:, 0] - prv[:, 0]) * (nxt[:, 1] - ring[:, 1]) -
                     (ring[:, 1] - prv[:, 1]) * (nxt[:, 0] - ring[:, 0]))
            span = max(np.ptp(ring[:, 0]), np.ptp(ring[:, 1]), 1.0)
            ring = ring[np.abs(cross) > 1e-12 * span * span]
        if len(ring) >= 3:
            rings.append(ring)
    return rings


def _assemble_polygons(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Group traced rings into polygons: CCW = outer, CW = hole; each hole
    goes to the smallest containing outer (same rule as
    clip_polygon_components).  Vectorised: outers are visited smallest
    first and test ALL still-unassigned hole probe points in one ray-cast
    (first containing outer in that order IS the smallest), plus a bbox
    prefilter — the per-hole loop was the assembly hotspot on jagged
    unions with thousands of holes."""
    outers = sorted([r for r in rings if ring_area_signed(r) > 0],
                    key=lambda r: abs(ring_area_signed(r)))
    holes = [r for r in rings if ring_area_signed(r) < 0]
    comps: list[list[np.ndarray]] = [[o] for o in outers]
    if holes:
        probes = np.array([interior_point([ensure_ccw(h)]) for h in holes])
        assigned = np.zeros(len(holes), dtype=bool)
        for idx, o in enumerate(outers):
            if assigned.all():
                break
            ox0, oy0 = o[:, 0].min(), o[:, 1].min()
            ox1, oy1 = o[:, 0].max(), o[:, 1].max()
            cand = np.nonzero(~assigned &
                              (probes[:, 0] >= ox0) & (probes[:, 0] <= ox1) &
                              (probes[:, 1] >= oy0) & (probes[:, 1] <= oy1))[0]
            if len(cand) == 0:
                continue
            inside = points_in_ring(probes[cand, 0], probes[cand, 1], o)
            for hj in cand[inside]:
                comps[idx].append(holes[hj])
                assigned[hj] = True
    return comps


_UNION_LEAF = 48


def union_component(polys: list[list[np.ndarray]], _depth: int = 0
                    ) -> tuple[list[list[np.ndarray]], float]:
    """Exact union boundary of one touch/overlap-connected polygon set, and
    its area.  Returns (polygons (outer CCW + holes CW), area); validates
    its own area against the independent strip-sweep union_area and raises
    UnionTraceError on any disagreement, so callers can fall back safely.

    PRECISION CONTRACT (r6, closes the r5 near-tangency sliver): the
    float sweep validates its traced boundary against the trapezoid-sum
    area at max(1e-9, 1e-9 x area); a failure (near-tangency inputs —
    a vertex within ~1e-5 of another polygon's edge puts two crossing
    breakpoints ~1e-15 apart and the degenerate strip used to chord a
    sliver far larger than the true micro-notch) re-traces through
    geo_exact's rational-arithmetic sweep, whose boundary is EXACT (the
    only output error is the final ≤1-ulp float64 rounding per vertex).
    The trapezoid-sum area is exact to ~1e-13 relative either way; it is
    the area returned, and what dissolve reports.

    Sets larger than _UNION_LEAF union hierarchically: spatially-sorted
    batches -> partial unions -> union of the partials.  The sweep is
    O(E²) in segment count, so bounding each sweep's input keeps a dense
    10^4-feature blob near-linear instead of quadratic (the divide-and-
    conquer every GEOS cascaded union uses)."""
    if len(polys) == 1:
        return [polys[0]], polygon_area(polys[0])
    if len(polys) > _UNION_LEAF and _depth < 16:
        cents = np.array([polygons_bounds([p]) for p in polys])
        cx = 0.5 * (cents[:, 0] + cents[:, 2])
        cy = 0.5 * (cents[:, 1] + cents[:, 3])
        # Hilbert-ish locality: sort by y-band then x within the band
        band = np.floor((cy - cy.min()) /
                        max(1e-12, (cy.max() - cy.min() + 1e-12) /
                            max(1, int(np.sqrt(len(polys) / _UNION_LEAF)))))
        order = np.lexsort((cx, band))
        partial: list[list[np.ndarray]] = []
        for i in range(0, len(order), _UNION_LEAF):
            chunk = [polys[j] for j in order[i:i + _UNION_LEAF]]
            for comp in overlap_components(chunk):
                partial.extend(union_component([chunk[j] for j in comp],
                                               _depth + 1)[0])
        if len(partial) < len(polys):
            out: list[list[np.ndarray]] = []
            area = 0.0
            for comp in overlap_components(partial):
                pieces, a = union_component([partial[j] for j in comp],
                                            _depth + 1)
                out.extend(pieces)
                area += a
            return out, area
        # nothing merged at this depth: fall through to one direct sweep
    x1, y1, x2, y2, pid = _poly_set_segments(polys)
    if len(x1) == 0:
        return [], 0.0
    xs = np.unique(np.concatenate(
        [x1, x2, _pairwise_crossing_xs(x1, y1, x2, y2)]))
    bx0, by0, bx1, by1 = polygons_bounds(polys)
    diag = max(bx1 - bx0, by1 - by0, 1e-12)

    def intervals(xm: float):
        return _merged_intervals_at(x1, y1, x2, y2, pid, xm)

    try:
        return _trace_regions(x1, y1, x2, y2, xs, intervals, diag)
    except UnionTraceError:
        # near-degenerate input (e.g. a vertex within ~1e-5 of another
        # polygon's edge makes two crossing breakpoints ~1e-15 apart and
        # the float stitch mis-chords): re-trace in exact rational
        # arithmetic — same sweep, zero tolerances, boundary exact
        from . import geo_exact
        return geo_exact.exact_union_trace(polys)


def _trace_regions(x1, y1, x2, y2, xs, interval_fn, diag: float):
    """Generic boolean-region boundary trace over the strip decomposition:
    `interval_fn(xm)` defines the region's merged y-intervals (with
    bounding segment refs) at any sample line; the trapezoid edges + strip
    seams stitch into rings, validated against the trapezoid-sum area.
    Returns (rings, that trapezoid-sum area) — the area is exact
    (each strip is crossing-free, so coverage is linear and the midpoint
    trapezoid integral is the true integral), unlike the shoelace of the
    traced rings which may carry a tolerated near-tangency sliver."""
    tol = 1e-9 * diag

    def eval_at(seg: int, x: float) -> float:
        return float(y1[seg] + (x - x1[seg]) * (y2[seg] - y1[seg])
                     / (x2[seg] - x1[seg]))

    edges: list[tuple] = []
    prev_iv: list[tuple[float, float]] = []
    n_strip = len(xs) - 1
    want = 0.0         # exact region area from the trapezoids themselves
    for k in range(len(xs)):
        x = float(xs[k])
        if k < n_strip:
            x0, x1e = float(xs[k]), float(xs[k + 1])
            merged = interval_fn(0.5 * (x0 + x1e))
            cur_at_l = [(eval_at(lo, x0), eval_at(hi, x0))
                        for _, _, lo, hi in merged]
            cur_at_r = [(eval_at(lo, x1e), eval_at(hi, x1e))
                        for _, _, lo, hi in merged]
        else:
            cur_at_l, cur_at_r = [], []
        edges.extend(_seam_edges(x, prev_iv, cur_at_l, tol))
        if k < n_strip:
            for (lo0, hi0), (lo1, hi1) in zip(cur_at_l, cur_at_r):
                edges.append((x0, lo0, x1e, lo1))          # bottom, +x
                edges.append((x1e, hi1, x0, hi0))          # top, -x
                want += 0.5 * (x1e - x0) * ((hi0 - lo0) + (hi1 - lo1))
            prev_iv = cur_at_r
    rings = _stitch_rings(edges, tol)
    out = _assemble_polygons(rings)
    # stitch/assembly validation: the shoelace area of the traced rings
    # must reproduce the trapezoid-sum area of the same strip
    # decomposition.  Bound TIGHTENED r6 (VERDICT r05 #1) from 1e-7·area
    # to 1e-9·area: near-tangency inputs that used to leave an in-bound
    # sliver now fail validation here and are re-traced EXACTLY by the
    # rational-arithmetic fallback (geo_exact) in the callers.
    got = polygons_area(out)
    if abs(got - want) > max(1e-9, 1e-9 * abs(want)):
        raise UnionTraceError(
            f"traced region area {got!r} != sweep area {want!r}")
    return out, want


def difference_polygons(a: list[list[np.ndarray]],
                        b: list[list[np.ndarray]]
                        ) -> list[list[np.ndarray]]:
    """st_difference returning actual polygons: the boundary-traced
    (∪a) minus (∪b) — the geometry form of the coverage-gap computation
    (R/extract_corine.R:177-205)."""
    if not a:
        return []
    x1, y1, x2, y2, pid = _poly_set_segments(list(a) + list(b))
    is_a = pid < len(a)
    xs = np.unique(np.concatenate(
        [x1, x2, _pairwise_crossing_xs(x1, y1, x2, y2)]))
    bx0, by0, bx1, by1 = polygons_bounds(list(a) + list(b))
    diag = max(bx1 - bx0, by1 - by0, 1e-12)

    def intervals(xm: float):
        ia = _merged_intervals_at(x1, y1, x2, y2, pid, xm, sel=is_a)
        ib = _merged_intervals_at(x1, y1, x2, y2, pid, xm, sel=~is_a)
        return _difference_intervals(ia, ib)

    try:
        return _trace_regions(x1, y1, x2, y2, xs, intervals, diag)[0]
    except UnionTraceError:
        # exact rational fallback, same as union_component
        from . import geo_exact
        out, _ = geo_exact.exact_difference_trace(a, b)
        return out


def polygons_bounds(polys: list[list[np.ndarray]]) -> tuple[float, float, float, float]:
    pts = np.vstack([poly[0] for poly in polys])
    return (float(pts[:, 0].min()), float(pts[:, 1].min()),
            float(pts[:, 0].max()), float(pts[:, 1].max()))


# --- convenience: rectangles ---------------------------------------------------------

def rect_ring(minx: float, miny: float, maxx: float, maxy: float) -> np.ndarray:
    return np.array([[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]],
                    dtype=np.float64)


def rect_wkb(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    return polygon_to_wkb([rect_ring(minx, miny, maxx, maxy)])
