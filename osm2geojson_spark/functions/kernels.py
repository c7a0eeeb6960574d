"""Pure-NumPy geometry kernels.

These re-implement, from public geometry math only, the subset of Shapely/GEOS
behavior the reference relies on (/root/reference/osm2geojson/main.py:14-24):

- ``linemerge``        endpoint hash-matching line stitching (JTS LineMerger walk)
- ``signed_area``      shoelace
- ``orient``           RFC 7946 ring orientation repair
- ``polygon difference / union / unary_union`` restricted to the ring-nesting
  cases OSM multipolygon assembly produces (holes strictly inside shells,
  disjoint shells) — validated ring-for-ring against the reference's golden
  GeoJSON fixtures.
- ``point_in_ring``    vectorized ray casting (also the E2 spatial-join kernel)

Everything here runs inside Arrow UDF workers on NumPy arrays — no Spark
imports, no shapely, no per-row Python in the distributed hot path (rows are
processed per *group*, vectorized within the kernel).

GEOS parity notes (empirically fitted to the golden fixtures, see
tests/test_goldens.py):

* GEOS overlay ops (difference/union) rebuild every ring of their output
  rotated so the ring starts at its formerly-last distinct vertex, oriented
  GEOS-canonically. ``overlay_normalize_ring`` encodes that observation.
* ``shapely.orient`` reverses a closed ring in place (start point preserved).
"""

from __future__ import annotations

import math

import numpy as np


# ---------------------------------------------------------------- rings


def signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area of a (closed or open) ring, CCW positive.

    The cyclic products are formed with slices (x[:-1] @ y[1:] plus the wrap
    term) instead of np.roll — the roll allocation dominated the relation
    kernels' profile at millions of small rings."""
    x = ring[:, 0]
    y = ring[:, 1]
    a = float(np.dot(x[:-1], y[1:])) + float(x[-1] * y[0])
    b = float(np.dot(y[:-1], x[1:])) + float(y[-1] * x[0])
    return 0.5 * (a - b)


def is_closed(pts: np.ndarray) -> bool:
    if len(pts) < 2:
        return False
    a, b = pts[0], pts[-1]
    return bool(a[0] == b[0]) and bool(a[1] == b[1])


def close_ring(pts: np.ndarray) -> np.ndarray:
    """Append the first point if the sequence is not closed (shapely Polygon()
    auto-closing, main.py:356 semantics)."""
    if is_closed(pts):
        return pts
    return np.vstack([pts, pts[:1]])


def reverse_closed(closed: np.ndarray) -> np.ndarray:
    """Reverse a closed ring in place — start point preserved (what
    shapely's orient() does to a wrongly-wound ring)."""
    return closed[::-1].copy()


def orient_ring(closed: np.ndarray, ccw: bool) -> np.ndarray:
    a = signed_area(closed)
    if (a >= 0) != ccw:
        return reverse_closed(closed)
    return closed


def overlay_normalize_ring(closed: np.ndarray, shell: bool) -> np.ndarray:
    """Emulate GEOS overlay output ring form: the ring in GEOS-canonical
    winding (shell CW, hole CCW; reversal preserves the start vertex) and
    rotated left by one, i.e. starting at the traversal's second vertex.

    Fitted against tests/data/relation.geojson (see module docstring);
    re-validated by every multipolygon golden in the suite.
    """
    ring = orient_ring(closed, ccw=not shell)
    distinct = ring[:-1]
    rolled = np.concatenate([distinct[1:], distinct[:1]])  # second vertex first
    return np.vstack([rolled, rolled[:1]])


# ------------------------------------------------------------ linemerge


def _quadrant_angle(dx: float, dy: float) -> float:
    """Angle in [0, 2pi) from +x axis CCW — JTS DirectedEdgeStar edge order."""
    a = math.atan2(dy, dx)
    return a if a >= 0 else a + 2 * math.pi


def linemerge(lines: list[np.ndarray]) -> list[np.ndarray]:
    """Merge a set of linestrings at shared endpoints (exact coordinate
    equality, as the reference's shapely.ops.linemerge relies on).

    Emulates the GEOS LineMerger traversal so output line order, direction
    and chain start points match the reference's goldens (empirically pinned
    by tests/data/issue-4 + relation + map):

    * open chains: edges visited in INPUT order; an unused edge whose start
      node has degree != 2 begins a chain walked forward (if only its end
      node qualifies, walked backward from there);
    * leftover pure cycles: nodes in (x, y) sorted order, outgoing edges in
      CCW-from-east angular order.
    """
    lines = [np.asarray(ln, dtype=np.float64) for ln in lines if len(ln) >= 2]
    if not lines:
        return []
    # graph: node key -> list of (edge_idx, forward: bool)
    nodes: dict[tuple, list[tuple[int, bool]]] = {}
    for i, ln in enumerate(lines):
        a = (float(ln[0, 0]), float(ln[0, 1]))
        b = (float(ln[-1, 0]), float(ln[-1, 1]))
        nodes.setdefault(a, []).append((i, True))
        nodes.setdefault(b, []).append((i, False))

    def out_angle(edge: tuple[int, bool]) -> float:
        i, fwd = edge
        ln = lines[i]
        p0, p1 = (ln[0], ln[1]) if fwd else (ln[-1], ln[-2])
        return _quadrant_angle(float(p1[0] - p0[0]), float(p1[1] - p0[1]))

    for k in nodes:
        nodes[k].sort(key=out_angle)

    used = [False] * len(lines)
    merged: list[list[np.ndarray]] = []

    def walk(start_key: tuple, edge: tuple[int, bool]) -> None:
        chain: list[np.ndarray] = []
        key = start_key
        cur = edge
        while True:
            i, fwd = cur
            used[i] = True
            coords = lines[i] if fwd else lines[i][::-1]
            chain.append(coords if not chain else coords[1:])
            key = (float(coords[-1, 0]), float(coords[-1, 1]))
            incident = nodes[key]
            if len(incident) != 2:
                break
            nxt = None
            for cand in incident:
                if not used[cand[0]]:
                    nxt = cand
                    break
            if nxt is None:
                break
            cur = nxt
        merged.append(chain)

    # open chains: first-input-edge start, forward preferred
    for i, ln in enumerate(lines):
        if used[i]:
            continue
        a = (float(ln[0, 0]), float(ln[0, 1]))
        b = (float(ln[-1, 0]), float(ln[-1, 1]))
        if len(nodes[a]) != 2:
            walk(a, (i, True))
        elif len(nodes[b]) != 2:
            walk(b, (i, False))
        # else: interior edge of a chain or part of a pure cycle

    # leftover pure cycles: sorted nodes, angle-ordered edges
    sorted_keys = sorted(nodes.keys())
    for key in sorted_keys:
        for edge in nodes[key]:
            if not used[edge[0]]:
                walk(key, edge)

    return [np.vstack(chain) for chain in merged]


# --------------------------------------------------------- point in ring


def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: for each point, is it strictly inside
    the ring (boundary counts as inside for half the edges — adequate for
    hole-nesting tests where containment is strict, and for the E2 spatial
    join where boundary points are measure-zero)."""
    x = pts[:, 0:1]  # (m,1)
    y = pts[:, 1:2]
    rx = ring[:-1, 0]  # (n,)
    ry = ring[:-1, 1]
    rx2 = ring[1:, 0]
    ry2 = ring[1:, 1]
    cond = (ry > y) != (ry2 > y)  # (m,n)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = rx + (y - ry) * (rx2 - rx) / np.where(ry2 == ry, np.inf, ry2 - ry)
    crossings = np.sum(cond & (x < xint), axis=1)
    return (crossings % 2) == 1


# single-point queries on rings below this size run the scalar loop: NumPy's
# fixed ~50us dispatch+temporaries overhead dwarfs the ~0.25us/vertex Python
# loop until a few hundred vertices (measured 40x at 5 vertices)
_SCALAR_RING_MAX = 256


def _point_in_ring_scalar(px: float, py: float, ring_list) -> bool:
    # same expression order as points_in_ring (edges with ry2 == ry have
    # cond False there, so skipping them is identical)
    inside = False
    x1, y1 = ring_list[0]
    for x2, y2 in ring_list[1:]:
        if (y1 > py) != (y2 > py):
            if px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
        x1, y1 = x2, y2
    return inside


def point_in_ring(pt, ring: np.ndarray) -> bool:
    if len(ring) <= _SCALAR_RING_MAX:
        px, py = float(pt[0]), float(pt[1])
        return _point_in_ring_scalar(px, py, ring.tolist())
    return bool(points_in_ring(np.asarray([pt], dtype=np.float64), ring)[0])


def _point_on_ring_scalar(px: float, py: float, ring_list, eps: float) -> bool:
    x1, y1 = ring_list[0]
    for x2, y2 in ring_list[1:]:
        abx = x2 - x1
        aby = y2 - y1
        apx = px - x1
        apy = py - y1
        if abs(abx * apy - aby * apx) <= eps:
            dot = abx * apx + aby * apy
            if -eps <= dot <= abx * abx + aby * aby + eps:
                return True
        x1, y1 = x2, y2
    return False


def point_on_ring(pt, ring: np.ndarray, eps: float = 0.0) -> bool:
    """Is pt (exactly) a vertex of the ring or on a segment."""
    if len(ring) <= _SCALAR_RING_MAX:
        return _point_on_ring_scalar(float(pt[0]), float(pt[1]), ring.tolist(), eps)
    p = np.asarray(pt, dtype=np.float64)
    a = ring[:-1]
    b = ring[1:]
    ab = b - a
    ap = p - a
    cross = ab[:, 0] * ap[:, 1] - ab[:, 1] * ap[:, 0]
    dot = ab[:, 0] * ap[:, 0] + ab[:, 1] * ap[:, 1]
    ab2 = ab[:, 0] ** 2 + ab[:, 1] ** 2
    on = (np.abs(cross) <= eps) & (dot >= -eps) & (dot <= ab2 + eps)
    return bool(np.any(on))


def ring_contains_ring(outer: np.ndarray, inner: np.ndarray) -> bool:
    """True if inner lies inside outer (tested on a representative interior
    vertex; OSM multipolygon holes are strictly nested)."""
    if len(outer) <= _SCALAR_RING_MAX:
        out_list = outer.tolist()
        for px, py in inner[:-1].tolist():
            if not _point_on_ring_scalar(px, py, out_list, 0.0):
                return _point_in_ring_scalar(px, py, out_list)
        return True
    for v in inner[:-1]:
        if not point_on_ring(v, outer):
            return point_in_ring(v, outer)
    # all vertices on the boundary -> treat as contained
    return True


# ------------------------------------------------------ validity / repair


def _segments_properly_intersect(p1, p2, p3, p4) -> bool:
    d1 = np.cross(p4 - p3, p1 - p3)
    d2 = np.cross(p4 - p3, p2 - p3)
    d3 = np.cross(p2 - p1, p3 - p1)
    d4 = np.cross(p2 - p1, p4 - p1)
    return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 != d2 and d3 != d4


def _ring_is_simple_sweep(P: np.ndarray, Q: np.ndarray, n: int) -> bool:
    """x-interval sweep: segments sorted by min-x, active set pruned by a
    max-x heap; exact proper-intersection test only on bbox-overlapping
    candidates. O(n log n + k) for geographic rings — the scale path for
    coastline-sized rings where all-pairs O(n^2) is prohibitive."""
    import heapq

    minx = np.minimum(P[:, 0], Q[:, 0])
    maxx = np.maximum(P[:, 0], Q[:, 0])
    miny = np.minimum(P[:, 1], Q[:, 1])
    maxy = np.maximum(P[:, 1], Q[:, 1])
    order = np.argsort(minx, kind="stable")
    heap: list[tuple[float, int]] = []  # (maxx, idx)
    active: set[int] = set()
    for idx in order:
        mx = minx[idx]
        while heap and heap[0][0] < mx:
            _, gone = heapq.heappop(heap)
            active.discard(gone)
        if active:
            arr = np.fromiter(active, dtype=np.int64, count=len(active))
            keep = (
                (miny[arr] <= maxy[idx])
                & (maxy[arr] >= miny[idx])
                & (arr != (idx + 1) % n)
                & (arr != (idx - 1 + n) % n)
            )
            cand = arr[keep]
            if len(cand):
                A, B = P[idx], Q[idx]
                C, D = P[cand], Q[cand]

                def cr(u, v):
                    return u[..., 0] * v[..., 1] - u[..., 1] * v[..., 0]

                d1 = cr(D - C, A - C)
                d2 = cr(D - C, B - C)
                d3 = cr(B - A, C - A)
                d4 = cr(B - A, D - A)
                proper = (
                    ((d1 > 0) != (d2 > 0))
                    & ((d3 > 0) != (d4 > 0))
                    & (d1 != d2)
                    & (d3 != d4)
                )
                if bool(proper.any()):
                    return False
        heapq.heappush(heap, (float(maxx[idx]), int(idx)))
        active.add(int(idx))
    return True


_ADJ_MASK_CACHE: dict[int, np.ndarray] = {}


def _nonadjacent_mask(n: int) -> np.ndarray:
    """(n, n) mask of non-adjacent segment pairs, cached per ring size —
    rebuilding it per call dominated the tiny-ring hot path.

    Only small n are cached: the rebuild cost only matters for tiny rings,
    and an (n, n) bool array is n^2 bytes — caching every size up to 4096
    could pin gigabytes in a long-lived Python worker."""
    m = _ADJ_MASK_CACHE.get(n)
    if m is None:
        ii = np.arange(n)[:, None]
        jj = np.arange(n)[None, :]
        m = ~((jj == ii) | (jj == (ii + 1) % n) | (jj == (ii - 1) % n))
        # n <= 512 -> <= 256 KiB/entry, <= ~64 MiB worst-case total
        if n <= 512:
            _ADJ_MASK_CACHE[n] = m
    return m


def _segments_cross(A, B, C, D) -> bool:
    """Proper crossing of segments AB and CD (scalar fast path)."""
    d1 = (D[0] - C[0]) * (A[1] - C[1]) - (D[1] - C[1]) * (A[0] - C[0])
    d2 = (D[0] - C[0]) * (B[1] - C[1]) - (D[1] - C[1]) * (B[0] - C[0])
    d3 = (B[0] - A[0]) * (C[1] - A[1]) - (B[1] - A[1]) * (C[0] - A[0])
    d4 = (B[0] - A[0]) * (D[1] - A[1]) - (B[1] - A[1]) * (D[0] - A[0])
    return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 != d2 and d3 != d4


def ring_is_simple(ring: np.ndarray, chunk: int = 512, sweep_threshold: int = 4096) -> bool:
    """No proper self-intersections. Triangles are always simple and
    quadrilaterals need exactly two non-adjacent pair tests — the dominant
    ring sizes in OSM (buildings), handled scalar without the batched
    matrix. Small rings: vectorized all-pairs segment test (NumPy-batched,
    a few ms at 4k vertices). Above ``sweep_threshold`` vertices:
    x-interval sweep (O(n log n + k))."""
    P = ring[:-1]
    Q = ring[1:]
    n = len(P)
    if n < 3:
        return False
    if n == 3:
        return True  # a triangle's only segment pairs are adjacent
    if n == 4:
        return not (
            _segments_cross(P[0], Q[0], P[2], Q[2])
            or _segments_cross(P[1], Q[1], P[3], Q[3])
        )
    if n <= 12:
        # scalar all-pairs: NumPy's fixed ~45us dispatch overhead exceeds
        # the <=54-pair Python loop until about a dozen vertices
        pts = ring.tolist()
        for i in range(n - 2):
            ax, ay = pts[i]
            bx, by = pts[i + 1]
            # j == n-1 is adjacent to i == 0 through the closing vertex
            for j in range(i + 2, n if i > 0 else n - 1):
                cx, cy = pts[j]
                dx, dy = pts[j + 1]
                d1 = (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx)
                d2 = (dx - cx) * (by - cy) - (dy - cy) * (bx - cx)
                if (d1 > 0) == (d2 > 0) or d1 == d2:
                    continue
                d3 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
                d4 = (bx - ax) * (dy - ay) - (by - ay) * (dx - ax)
                if (d3 > 0) != (d4 > 0) and d3 != d4:
                    return False
        return True
    if n > sweep_threshold:
        return _ring_is_simple_sweep(P, Q, n)

    def cr(u, v):
        return u[..., 0] * v[..., 1] - u[..., 1] * v[..., 0]

    for i0 in range(0, n, chunk):
        i1 = min(i0 + chunk, n)
        A = P[i0:i1, None, :]
        B = Q[i0:i1, None, :]
        C = P[None, :, :]
        D = Q[None, :, :]
        d1 = cr(D - C, A - C)
        d2 = cr(D - C, B - C)
        d3 = cr(B - A, C - A)
        d4 = cr(B - A, D - A)
        proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != d2) & (d3 != d4)
        if bool(np.any(proper & _nonadjacent_mask(n)[i0:i1])):
            return False
    return True


def polygon_is_valid(rings: list[np.ndarray]) -> bool:
    for r in rings:
        if len(r) < 4 or not is_closed(r):
            return False
        if signed_area(r) == 0.0:
            return False
        if not ring_is_simple(r):
            return False
    # holes must nest inside the shell
    for h in rings[1:]:
        if not ring_contains_ring(rings[0], h):
            return False
    return True


def polygon_from_coords(pts: np.ndarray) -> list[np.ndarray]:
    """shapely Polygon(coords): auto-close; <3 distinct vertices raises."""
    pts = np.asarray(pts, dtype=np.float64)
    ring = close_ring(pts)
    if len(ring) < 4:
        raise ValueError("A polygon ring needs at least 3 distinct coordinates")
    return [ring]


def _segment_intersection_point(A, B, C, D):
    """Intersection point of properly-crossing segments AB and CD."""
    r = B - A
    s = D - C
    denom = r[0] * s[1] - r[1] * s[0]
    t = ((C - A)[0] * s[1] - (C - A)[1] * s[0]) / denom
    return A + t * r


def _find_proper_crossings(P: np.ndarray, Q: np.ndarray, n: int, limit: int = 2):
    """Up to ``limit`` properly-crossing non-adjacent segment pairs, found
    with the same x-interval sweep as ``_ring_is_simple_sweep`` (never the
    O(n^2) python double loop — overlay intermediates can be 20k+ vertices)."""
    import heapq

    minx = np.minimum(P[:, 0], Q[:, 0])
    maxx = np.maximum(P[:, 0], Q[:, 0])
    miny = np.minimum(P[:, 1], Q[:, 1])
    maxy = np.maximum(P[:, 1], Q[:, 1])
    order = np.argsort(minx, kind="stable")
    heap: list[tuple[float, int]] = []
    active: set[int] = set()
    found: list[tuple[int, int]] = []
    for idx in order:
        mx = minx[idx]
        while heap and heap[0][0] < mx:
            _, gone = heapq.heappop(heap)
            active.discard(gone)
        if active:
            arr = np.fromiter(active, dtype=np.int64, count=len(active))
            keep = (
                (miny[arr] <= maxy[idx])
                & (maxy[arr] >= miny[idx])
                & (arr != (idx + 1) % n)
                & (arr != (idx - 1 + n) % n)
            )
            cand = arr[keep]
            if len(cand):
                A, B = P[idx], Q[idx]
                C, D = P[cand], Q[cand]
                d1 = (D - C)[:, 0] * (A - C)[:, 1] - (D - C)[:, 1] * (A - C)[:, 0]
                d2 = (D - C)[:, 0] * (B - C)[:, 1] - (D - C)[:, 1] * (B - C)[:, 0]
                d3 = (B - A)[0] * (C - A)[:, 1] - (B - A)[1] * (C - A)[:, 0]
                d4 = (B - A)[0] * (D - A)[:, 1] - (B - A)[1] * (D - A)[:, 0]
                proper = (
                    ((d1 > 0) != (d2 > 0))
                    & ((d3 > 0) != (d4 > 0))
                    & (d1 != d2)
                    & (d3 != d4)
                )
                for j in cand[proper]:
                    found.append((min(int(idx), int(j)), max(int(idx), int(j))))
                    if len(found) >= limit:
                        return found
        heapq.heappush(heap, (float(maxx[idx]), int(idx)))
        active.add(int(idx))
    return found


def split_bowtie_ring(ring: np.ndarray) -> list[np.ndarray] | None:
    """buffer(0) semantics for the canonical self-touching figure-eight: a
    ring with exactly ONE proper self-intersection splits at the crossing
    into two simple loops (GEOS buffer(0) on a bowtie returns the two
    triangles). Returns None when the ring has zero or multiple crossings —
    callers keep the original geometry then."""
    P = ring[:-1]
    Q = ring[1:]
    n = len(P)
    crossings = _find_proper_crossings(P, Q, n, limit=2)
    if len(crossings) != 1:
        return None
    i, j = crossings[0]
    X = _segment_intersection_point(P[i], Q[i], P[j], Q[j])
    # loop 1: X -> (i+1 .. j) -> X ; loop 2: X -> (j+1 .. i) -> X
    loop1 = np.vstack([[X], ring[i + 1: j + 1], [X]])
    loop2 = np.vstack([[X], ring[j + 1:], ring[1: i + 1], [X]])
    out = []
    for lp in (loop1, loop2):
        if len(lp) >= 4 and signed_area(lp) != 0.0:
            out.append(lp)
    return out if len(out) == 2 else None


def split_self_intersections(
    ring: np.ndarray, max_crossings: int = 256
) -> list[np.ndarray]:
    """General buffer(0)-style repair: node a self-intersecting ring at ALL
    proper crossings, then pinch off the elementary simple loops.

    Crossings come from the same x-interval sweep as the simplicity check
    (never O(n^2) python); each intersection point is inserted into BOTH
    participating segments with identical float coordinates. The noded
    chain is then treated as a planar graph and its bounded FACES are
    traced with the half-edge next-clockwise rule (the planar-arrangement
    decomposition GEOS's buffer(0) noding performs; reference
    main.py:264-270 delegates this defect class to GEOS). Bounded faces
    come out CCW, the unbounded face CW and is discarded. A one-crossing
    figure-eight gives the same two triangles as ``split_bowtie_ring``; a
    pentagram decomposes into its five point-triangles plus the central
    pentagon. Faces that are degenerate (zero area) or non-simple
    (tangency/collinear-overlap defects) are dropped. Returns [] when
    nothing survives — callers keep the original geometry then."""
    r = np.asarray(ring, dtype=np.float64)
    P, Q = r[:-1], r[1:]
    n = len(P)
    if n < 3:
        return []
    crossings = _find_proper_crossings(P, Q, n, limit=max_crossings + 1)
    if not crossings:
        return [r] if len(r) >= 4 and signed_area(r) != 0.0 and ring_is_simple(r) else []
    if len(crossings) > max_crossings:
        return []
    # per-segment insertion lists: (t along the segment, point)
    inserts: dict[int, list[tuple[float, tuple[float, float]]]] = {}
    for i, j in crossings:
        A, B, C, D = P[i], Q[i], P[j], Q[j]
        rv = B - A
        sv = D - C
        denom = rv[0] * sv[1] - rv[1] * sv[0]
        t = ((C - A)[0] * sv[1] - (C - A)[1] * sv[0]) / denom
        u = ((C - A)[0] * rv[1] - (C - A)[1] * rv[0]) / denom
        X = (float(A[0] + t * rv[0]), float(A[1] + t * rv[1]))
        inserts.setdefault(i, []).append((t, X))
        inserts.setdefault(j, []).append((u, X))
    noded: list[tuple[float, float]] = []
    for i in range(n):
        noded.append((float(P[i, 0]), float(P[i, 1])))
        for _, X in sorted(inserts.get(i, []), key=lambda e: e[0]):
            noded.append(X)
    # face walk: undirected planar graph over the noded chain; each face is
    # traced by following, at every node, the edge next-CLOCKWISE from the
    # reversed arrival edge. Bounded faces trace CCW (positive area); the
    # unbounded face traces CW and is dropped.
    m = len(noded)
    adj: dict[tuple[float, float], list[tuple[float, float]]] = {}
    for a in range(m):
        u, v = noded[a], noded[(a + 1) % m]
        if u == v:
            continue
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    for u, nbrs in adj.items():
        nbrs.sort(key=lambda w: math.atan2(w[1] - u[1], w[0] - u[0]))
    visited: set[tuple[tuple[float, float], tuple[float, float]]] = set()
    out: list[np.ndarray] = []
    for u0, nbrs0 in adj.items():
        for v0 in nbrs0:
            if (u0, v0) in visited:
                continue
            face = [u0]
            u, v = u0, v0
            while (u, v) not in visited:
                visited.add((u, v))
                face.append(v)
                nbrs = adj[v]
                i = nbrs.index(u)
                w = nbrs[(i - 1) % len(nbrs)]  # next clockwise from (v -> u)
                u, v = v, w
            lp = np.asarray(face, dtype=np.float64)
            if (
                len(lp) >= 4
                and np.array_equal(lp[0], lp[-1])
                and signed_area(lp) > 0.0
                and ring_is_simple(lp)
            ):
                out.append(lp)
    return out


def fix_invalid_multipolygon(polys: list[list[np.ndarray]]) -> list[list[np.ndarray]]:
    """buffer(0)-style repair (main.py:264-270). Valid polygons pass through
    untouched (the golden corpus never produces invalid assembled polygons).
    A self-intersecting shell is noded at its proper crossings and split
    into simple loops (``split_self_intersections`` — the bowtie/figure-
    eight is the one-crossing case), each loop carrying the original holes
    that nest inside it. Invalidity with no proper crossing to split at
    passes through unchanged (matching the reference's tolerance: it never
    verifies buffer(0)'s output either)."""
    out: list[list[np.ndarray]] = []
    for rings in polys:
        shell = rings[0]
        # self-intersecting HOLES are repaired the same way: each splits
        # into its simple loops (re-oriented later by orient_multipolygon)
        holes: list[np.ndarray] = []
        for h in rings[1:]:
            if len(h) < 4 or polygon_is_valid([h]):
                holes.append(h)
            else:
                pieces = split_self_intersections(h)
                holes.extend(pieces if pieces else [h])
        if polygon_is_valid([shell]) or len(shell) < 4:
            out.append([shell] + holes)
            continue
        pieces = split_self_intersections(shell)
        if not pieces:
            out.append([shell] + holes)
            continue
        for piece in pieces:
            kept = [piece] + [h for h in holes if ring_contains_ring(piece, h)]
            out.append(kept)
    return out


# ------------------------------------------------------ overlay (nesting)


def multipolygon_difference(
    base: list[list[np.ndarray]], sub: list[list[np.ndarray]]
) -> list[list[np.ndarray]]:
    """base minus sub, restricted to OSM-nesting cases: each sub shell either
    nests strictly inside one base shell (becomes a hole) or lies outside all
    of them (no-op). Output rings are overlay-normalized to mirror GEOS
    (see overlay_normalize_ring)."""
    out: list[list[np.ndarray]] = [[r for r in rings] for rings in base]
    for rings in sub:
        shell = rings[0]
        placed = False
        for target in out:
            if ring_contains_ring(target[0], shell):
                inside_hole = any(ring_contains_ring(h, shell) for h in target[1:])
                if not inside_hole:
                    target.append(shell)
                    placed = True
                    break
        if not placed:
            continue  # disjoint subtrahend: difference is a no-op
    return [
        [overlay_normalize_ring(r, shell=(i == 0)) for i, r in enumerate(rings)]
        for rings in out
    ]


def multipolygon_union(
    a: list[list[np.ndarray]], b: list[list[np.ndarray]]
) -> list[list[np.ndarray]]:
    """a union b for disjoint-or-nested shells (the only cases OSM role-group
    unions produce in the golden corpus). Overlay-normalized output."""
    kept: list[list[np.ndarray]] = []
    all_polys = [list(p) for p in a] + [list(p) for p in b]
    for i, p in enumerate(all_polys):
        absorbed = False
        for j, q in enumerate(all_polys):
            if i == j:
                continue
            if ring_contains_ring(q[0], p[0]) and not np.array_equal(q[0], p[0]):
                in_hole = any(ring_contains_ring(h, p[0]) for h in q[1:])
                if not in_hole:
                    absorbed = True
                    break
        if not absorbed:
            kept.append(p)
    return [
        [overlay_normalize_ring(r, shell=(k == 0)) for k, r in enumerate(rings)]
        for rings in kept
    ]


def unary_union_polygons(polys: list[list[np.ndarray]]) -> list[list[np.ndarray]]:
    """unary_union over a polygon list (main.py:694): disjoint shells are all
    kept, nested shells absorbed by their container. Overlay-normalized."""
    if len(polys) == 1:
        # GEOS unary_union of a single polygon returns it unchanged
        return polys
    return multipolygon_union(polys, [])


# ------------------------------------------------- general overlay union


def _poly_covers_point(rings: list[np.ndarray], pt) -> bool:
    if not point_in_ring(pt, rings[0]):
        return False
    return not any(point_in_ring(pt, h) for h in rings[1:])


def _node_arrangement(rings: list[np.ndarray]) -> dict:
    """Planar arrangement of closed rings: node every proper crossing and
    T-junction (endpoint strictly interior to another segment), return an
    adjacency dict point -> angle-sorted neighbor list.

    Candidate generation here is chunk-vectorized all-pairs — right for
    dissolve-sized groups (tens of rings); the x-interval sweep of
    _ring_is_simple_sweep is the drop-in scale path for planet-sized
    arrangements.  Collinear partial-overlap segments are NOT noded (the
    same robustness carve-out GEOS handles with snap-rounding)."""
    Ps, Qs = [], []
    for r in rings:
        c = close_ring(np.asarray(r, dtype=np.float64))
        Ps.append(c[:-1])
        Qs.append(c[1:])
    P = np.concatenate(Ps)
    Q = np.concatenate(Qs)
    m = len(P)
    inserts: dict[int, list[tuple[float, tuple[float, float]]]] = {i: [] for i in range(m)}
    for i in range(m - 1):
        A, B = P[i], Q[i]
        rv = B - A
        C, D = P[i + 1 :], Q[i + 1 :]
        sv = D - C
        denom = rv[0] * sv[:, 1] - rv[1] * sv[:, 0]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((C[:, 0] - A[0]) * sv[:, 1] - (C[:, 1] - A[1]) * sv[:, 0]) / denom
            u = ((C[:, 0] - A[0]) * rv[1] - (C[:, 1] - A[1]) * rv[0]) / denom
        ok = (denom != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)
        for k in np.nonzero(ok)[0]:
            j = i + 1 + int(k)
            X = (float(A[0] + t[k] * rv[0]), float(A[1] + t[k] * rv[1]))
            inserts[i].append((float(t[k]), X))
            inserts[j].append((float(u[k]), X))
    # T-junctions: any ring vertex strictly inside another segment
    V = np.unique(P, axis=0)
    for i in range(m):
        A, B = P[i], Q[i]
        rv = B - A
        L2 = float(rv @ rv)
        if L2 == 0.0:
            continue
        cross = rv[0] * (V[:, 1] - A[1]) - rv[1] * (V[:, 0] - A[0])
        tt = ((V[:, 0] - A[0]) * rv[0] + (V[:, 1] - A[1]) * rv[1]) / L2
        ok = (cross == 0.0) & (tt > 0) & (tt < 1)
        for k in np.nonzero(ok)[0]:
            inserts[i].append((float(tt[k]), (float(V[k, 0]), float(V[k, 1]))))
    adj: dict[tuple[float, float], set] = {}

    def add_edge(u, v):
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)

    chains: list[list[tuple[float, float]]] = []
    idx = 0
    for Pr in Ps:
        n = len(Pr)
        pts: list[tuple[float, float]] = []
        for k in range(n):
            pts.append((float(Pr[k, 0]), float(Pr[k, 1])))
            for _, X in sorted(inserts[idx + k], key=lambda e: e[0]):
                pts.append(X)
        pts.append(pts[0])
        for a, b in zip(pts[:-1], pts[1:]):
            add_edge(a, b)
        chains.append(pts)
        idx += n
    return (
        {
            u: sorted(vs, key=lambda w: math.atan2(w[1] - u[1], w[0] - u[0]))
            for u, vs in adj.items()
        },
        chains,
    )


def _overlay_classified(polys: list[list[np.ndarray]], inside) -> list[list[np.ndarray]]:
    """Shared planar-overlay engine: node every ring into one arrangement,
    compute for each noded segment the EXACT set of input polygons covering
    each side, keep directed edges where ``inside(left_set)`` and not
    ``inside(right_set)``, trace the boundary loops.  See union_overlay for
    the classification argument; ``inside`` is the boolean-algebra knob
    that turns the same engine into union / intersection / difference."""
    closed_polys = [
        [
            orient_ring(close_ring(np.asarray(r, dtype=np.float64)), ccw=(i == 0))
            for i, r in enumerate(p)
        ]
        for p in polys
    ]
    adj, chains = _node_arrangement([r for p in closed_polys for r in p])
    # directed noded segment -> polys with it on their oriented boundary
    left_of: dict[tuple, set] = {}
    ci = 0
    for pid, rings in enumerate(closed_polys):
        for _ in rings:
            pts = chains[ci]
            ci += 1
            for a, b in zip(pts[:-1], pts[1:]):
                if a != b:
                    left_of.setdefault((a, b), set()).add(pid)
    kept = set()
    for u, nbrs in adj.items():
        for v in nbrs:
            if u >= v:  # each undirected edge once
                continue
            on_bd = left_of.get((u, v), set()) | left_of.get((v, u), set())
            M = ((u[0] + v[0]) / 2.0, (u[1] + v[1]) / 2.0)
            base = {
                pid
                for pid, p in enumerate(closed_polys)
                if pid not in on_bd and _poly_covers_point(p, M)
            }
            li = inside(base | left_of.get((u, v), set()))
            ri = inside(base | left_of.get((v, u), set()))
            if li and not ri:
                kept.add((u, v))
            elif ri and not li:
                kept.add((v, u))
    loops: list[np.ndarray] = []
    visited: set = set()
    for e0 in sorted(kept):  # deterministic trace order
        if e0 in visited:
            continue
        loop = [e0[0]]
        u, v = e0
        while (u, v) not in visited:
            visited.add((u, v))
            loop.append(v)
            nbrs = adj[v]
            i = nbrs.index(u)
            for step in range(1, len(nbrs) + 1):
                w = nbrs[(i - step) % len(nbrs)]
                if (v, w) in kept:
                    break
            u, v = v, w
        loops.append(np.asarray(loop, dtype=np.float64))
    shells = [l for l in loops if signed_area(l) > 0.0]
    holes = [l for l in loops if signed_area(l) < 0.0]
    out = [[s] for s in shells]
    for h in holes:
        for rings in out:
            if ring_contains_ring(rings[0], h):
                rings.append(h)
                break
    return out


def union_overlay(polys: list[list[np.ndarray]]) -> list[list[np.ndarray]]:
    """General planar-overlay union of possibly-OVERLAPPING polygons — the
    full ST_Union semantics (multipolygon_union above is the fast
    disjoint-or-nested path the OSM golden corpus needs; this is the
    general case for the dissolve operator).

    Edge-side classification: after full noding no other edge touches the
    open interior of a noded segment, so each SIDE of each segment has
    constant coverage, computable exactly — a polygon whose (normalized:
    shell CCW, holes CW) boundary contains the directed segment lies
    locally on its LEFT; every other polygon's coverage at the midpoint is
    a strict point-in-ring parity test.  The union boundary is the directed
    segments with covered-left and uncovered-right; loops are traced by
    rotating clockwise from the reversed arrival edge.  Shells trace CCW,
    holes CW, holes attach to the containing shell.  Exact for inputs
    without collinear PARTIAL segment overlaps (exact duplicate segments
    are fine); that carve-out is GEOS's snap-rounding territory."""
    return _overlay_classified(polys, lambda s: bool(s))


def overlay_two(
    a: list[list[np.ndarray]],
    b: list[list[np.ndarray]],
    op: str,
) -> list[list[np.ndarray]]:
    """Binary overlay of two polygon SETS through the same classified-edge
    engine: ``op`` in {'union', 'intersection', 'difference' (a - b),
    'symdiff'}.  ST_Intersection / ST_Difference / ST_SymDifference over
    multipolygons, same exactness contract as union_overlay."""
    na = len(a)
    in_a = lambda s: any(p < na for p in s)
    in_b = lambda s: any(p >= na for p in s)
    preds = {
        "union": lambda s: in_a(s) or in_b(s),
        "intersection": lambda s: in_a(s) and in_b(s),
        "difference": lambda s: in_a(s) and not in_b(s),
        "symdiff": lambda s: in_a(s) != in_b(s),
    }
    if op not in preds:
        raise ValueError(f"unknown overlay op: {op!r}")
    return _overlay_classified(list(a) + list(b), preds[op])


def orient_multipolygon(polys: list[list[np.ndarray]]) -> list[list[np.ndarray]]:
    """RFC 7946: shells CCW, holes CW — in-place closed-ring reversal,
    mirroring shapely.geometry.polygon.orient (main.py:259-261)."""
    return [
        [orient_ring(r, ccw=(i == 0)) for i, r in enumerate(rings)]
        for rings in polys
    ]


# ------------------------------------------------------------- distance


EARTH_RADIUS_M = 6371008.8


def haversine_m(lon1, lat1, lon2, lat2):
    """Vectorized great-circle distance in meters."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


# ------------------------------------------------------- DP simplification


def dp_simplify(pts: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker polyline simplification (iterative stack, no
    recursion depth limit): keeps both endpoints and every vertex whose
    perpendicular distance from the current chord exceeds ``eps``
    (planar lon/lat distance — callers pick eps in degrees). Per-span
    distances are vectorized; worst case O(n^2) like every DP, O(n log n)
    typical."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        mid = pts[i + 1 : j]
        L2 = float(seg @ seg)
        if L2 == 0.0:
            d = np.hypot(mid[:, 0] - pts[i, 0], mid[:, 1] - pts[i, 1])
        else:
            # |cross((p - a), seg)| / |seg|
            d = np.abs(
                (mid[:, 0] - pts[i, 0]) * seg[1] - (mid[:, 1] - pts[i, 1]) * seg[0]
            ) / np.sqrt(L2)
        kmax = int(np.argmax(d))
        if d[kmax] > eps:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def dp_simplify_ring(ring: np.ndarray, eps: float) -> np.ndarray:
    """DP for a CLOSED ring (first == last): simplifies the closed chain
    with the shared vertex anchored; if the result degenerates below a
    triangle (4 points closed) the original ring is returned unchanged —
    simplification must never invalidate a polygon."""
    out = dp_simplify(ring, eps)
    if len(out) < 4:
        return np.asarray(ring, dtype=np.float64)
    return out


def convex_hull_pts(pts: np.ndarray) -> np.ndarray:
    """Minimal convex hull of a 2-D point set — Andrew's monotone chain,
    returned CCW starting at the lexicographic minimum, with collinear
    boundary points and duplicates dropped (the minimal vertex set, the
    same contract as GEOS ConvexHull's shell ring).

    The reference reaches hulls through shapely's convex_hull property
    when users post-process assembled geometries; here it is a NumPy
    kernel so the distributed operator (operators/geometry.convex_hull)
    can run it per Arrow batch.

    An Akl-Toussaint quadrilateral prefilter (vectorized) discards points
    strictly inside the (min-x, min-y, max-x, max-y) extreme quadrilateral
    before the O(h)-stack chain walk, so the Python loop touches only the
    near-hull fringe — on uniform random inputs that is O(sqrt(n)) of the
    points."""
    pts = np.unique(np.asarray(pts, dtype=np.float64), axis=0)  # lex-sorted
    n = len(pts)
    if n <= 2:
        return pts
    if n > 16:
        quad = pts[
            [
                int(pts[:, 0].argmin()),
                int(pts[:, 1].argmin()),
                int(pts[:, 0].argmax()),
                int(pts[:, 1].argmax()),
            ]
        ]
        keep = np.zeros(n, dtype=bool)
        for i in range(4):
            a, b = quad[i], quad[(i + 1) % 4]
            cr = (b[0] - a[0]) * (pts[:, 1] - a[1]) - (b[1] - a[1]) * (
                pts[:, 0] - a[0]
            )
            keep |= cr <= 0.0  # on-or-right of a CCW quad edge = not interior
        pts = pts[keep]  # boolean mask preserves the lexicographic order

    def _half(seq):
        h: list[tuple[float, float]] = []
        for x, y in seq:
            while (
                len(h) >= 2
                and (h[-1][0] - h[-2][0]) * (y - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (x - h[-2][0])
                <= 0.0
            ):
                h.pop()
            h.append((x, y))
        return h

    lower = _half(pts)
    upper = _half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def vectorize_mask(mask: np.ndarray) -> list[list[np.ndarray]]:
    """RASTER -> VECTOR: trace a boolean pixel mask into polygons (the
    GDAL ``polygonize`` / rasterio ``shapes`` operation). Pixel (x, y) =
    mask[y, x] occupies the unit square [x, x+1] x [y, y+1]; returns
    [[shell, hole, ...], ...] with CCW shells, CW holes, collinear
    boundary vertices compressed.

    Boundary model: every edge between a hot and a cold/outside pixel is a
    directed unit edge with HOT ON THE LEFT; rings are traced by always
    taking the LEFTMOST available turn, which resolves checkerboard
    corners so hot regions are 4-connected and cold regions (holes) are
    8-connected — the standard raster topology duality. Hole rings are
    assigned to the smallest-area containing shell via a ray cast from the
    adjacent interior cold pixel center.

    Edge extraction is fully vectorized (four shifted comparisons); the
    Python walk touches only boundary corners, O(perimeter) not O(area)."""
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = mask
    ys, xs = np.nonzero(mask)

    # directed edges (hot on left), keyed by start corner
    R, U, L, D = (1, 0), (0, 1), (-1, 0), (0, -1)
    edges: dict[tuple[int, int], list[tuple[tuple[int, int], tuple[int, int]]]] = {}

    def _emit(sel_y, sel_x, start_off, dvec):
        for y, x in zip(sel_y, sel_x):
            s = (int(x) + start_off[0], int(y) + start_off[1])
            edges.setdefault(s, []).append((dvec, (s[0] + dvec[0], s[1] + dvec[1])))

    below = ~pad[:-2, 1:-1][ys, xs] if len(ys) else np.array([], bool)
    above = ~pad[2:, 1:-1][ys, xs] if len(ys) else np.array([], bool)
    left = ~pad[1:-1, :-2][ys, xs] if len(ys) else np.array([], bool)
    right = ~pad[1:-1, 2:][ys, xs] if len(ys) else np.array([], bool)
    _emit(ys[below], xs[below], (0, 0), R)      # bottom edge, heading +x
    _emit(ys[right], xs[right], (1, 0), U)      # right edge, heading +y
    _emit(ys[above], xs[above], (1, 1), L)      # top edge, heading -x
    _emit(ys[left], xs[left], (0, 1), D)        # left edge, heading -y

    # The ring decomposition is the cycle structure of the LEFT-TURN
    # successor permutation on directed edges: succ(e) = the outgoing edge
    # at head(e) whose direction is left(dir(e)) when two exist (the
    # checkerboard corner), else the single outgoing edge. A self-touching
    # hole ring correctly traverses its pinch corner twice (one cycle), so
    # hole count == 8-connected cold components and shell count ==
    # 4-connected hot components — mutating-walk termination at a revisited
    # start corner would instead split such rings.
    _LEFT = {R: U, U: L, L: D, D: R}

    all_edges: list[tuple[tuple[int, int], tuple[int, int], tuple[int, int]]] = [
        (s, d, t) for s, outs in edges.items() for d, t in outs
    ]
    visited = set()
    rings: list[np.ndarray] = []
    for first in all_edges:
        if (first[0], first[1]) in visited:
            continue
        pts = [first[0], first[2]]
        visited.add((first[0], first[1]))
        s, d, t = first
        while True:
            outs = edges[t]
            if len(outs) == 1:
                nd, nt = outs[0]
            else:
                want = _LEFT[d]
                nd, nt = outs[0] if outs[0][0] == want else outs[1]
            if (t, nd) == (first[0], first[1]):
                break
            visited.add((t, nd))
            if nd == d:
                pts[-1] = nt  # collinear: extend in place
            else:
                pts.append(nt)
            s, d, t = t, nd, nt
        if len(pts) > 2:
            # compress a collinear run across the start corner
            d_last = (pts[-1][0] - pts[-2][0], pts[-1][1] - pts[-2][1])
            d_first = (pts[1][0] - pts[0][0], pts[1][1] - pts[0][1])
            dl = (d_last[0] and d_last[0] // abs(d_last[0]) or 0,
                  d_last[1] and d_last[1] // abs(d_last[1]) or 0)
            df = (d_first[0] and d_first[0] // abs(d_first[0]) or 0,
                  d_first[1] and d_first[1] // abs(d_first[1]) or 0)
            if dl == df:
                pts = pts[1:-1] + [pts[1]]
        rings.append(np.asarray(pts, dtype=np.float64))

    shells, holes = [], []
    for ring in rings:
        a = signed_area(ring)
        (shells if a > 0 else holes).append((abs(a), ring))

    polys: list[list[np.ndarray]] = [[s[1]] for s in sorted(shells, key=lambda t: t[0])]
    areas = [s[0] for s in sorted(shells, key=lambda t: t[0])]
    for _, hole in holes:
        # interior point: center of the cold pixel right of the first edge
        a0, a1 = hole[0], hole[1]
        d = (a1[0] - a0[0], a1[1] - a0[1])
        n = max(abs(d[0]), abs(d[1]))
        step = (d[0] / n, d[1] / n)
        rightv = (step[1], -step[0])  # cold side
        probe = (
            a0[0] + step[0] / 2.0 + rightv[0] / 2.0,
            a0[1] + step[1] / 2.0 + rightv[1] / 2.0,
        )
        for i, poly in enumerate(polys):  # smallest containing shell first
            if _point_in_ring_scalar(probe[0], probe[1], poly[0]):
                poly.append(hole)
                break
    return [p for _, p in sorted(zip(areas, polys), key=lambda t: -t[0])]
