"""Vectorized planar geometry: WKT parsing, bbox, point-in-polygon.

Replaces the reference's shapely/geopandas usage (e.g. GeoSeries.intersects
refinement, demeter/raster/usgs/hydrography.py:396-399; WKT interchange,
demeter/vector/usda/ssurgo.py:143-150) with pure-numpy kernels suitable for
Arrow-batched pandas UDFs — no per-row Python in the hot path.

Polygons with holes are fully supported: ``parse_wkt_polygons`` returns parts
as (outer ring + hole rings) and every PIP kernel applies even-odd semantics
(xor over a part's rings, or across multipolygon parts) — matching the
reference's shapely semantics for holed inputs (multiparts are exploded as in
demeter/utils.py:44-46).
"""

from __future__ import annotations

import math
import re

import numpy as np

_NUM = re.compile(r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")


Ring = tuple[np.ndarray, np.ndarray]


def parse_wkt_polygons(wkt: str) -> list[list[Ring]]:
    """POLYGON/MULTIPOLYGON WKT -> list of parts, each a list of rings
    (first ring = outer boundary, remaining rings = holes).

    Point-in-polygon uses even-odd semantics per part (outer xor holes),
    OR'd across multipolygon parts.
    """
    wkt = wkt.strip()
    upper = wkt.upper()
    if upper.startswith("POLYGON"):
        groups = [wkt[wkt.index("(") :]]
    elif upper.startswith("MULTIPOLYGON"):
        body = wkt[wkt.index("(") + 1 : wkt.rindex(")")]
        groups = _split_top_level(body)
    else:
        raise ValueError(f"unsupported WKT type: {wkt[:30]}")
    parts: list[list[Ring]] = []
    for g in groups:
        ring_strs = _split_top_level(g[g.index("(") + 1 : g.rindex(")")])
        rings: list[Ring] = []
        for rs in ring_strs:
            nums = np.array(_NUM.findall(rs), dtype=np.float64)
            xs = nums[0::2]
            ys = nums[1::2]
            if xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]  # drop closing vertex
            rings.append((xs, ys))
        parts.append(rings)
    return parts


def parse_wkt_rings(wkt: str) -> list[Ring]:
    """Flattened ring list (back-compat); raises if any part has holes —
    callers that support holes use parse_wkt_polygons."""
    parts = parse_wkt_polygons(wkt)
    for p in parts:
        if len(p) > 1:
            raise ValueError("polygon holes are not supported by this caller")
    return [p[0] for p in parts]


def _split_top_level(s: str) -> list[str]:
    """Split on commas at parenthesis depth 0."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts]


def ring_to_wkt(xs: np.ndarray, ys: np.ndarray) -> str:
    pts = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
    first = f"{xs[0]!r} {ys[0]!r}"
    return f"POLYGON (({pts}, {first}))"


def ring_bbox(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float, float, float]:
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def points_in_ring(
    px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Vectorized ray-cast point-in-polygon for one ring.

    Semi-open edge semantics (standard crossing parity); points exactly on a
    boundary may land either way — synthetic fixtures avoid boundary-exact
    points (see sources/synth.py) so results are oracle-stable.

    O(n_points * n_edges) but looped over edges with vectorized point
    arrays: temporaries stay O(n_points) (cache-resident) instead of
    materializing an (n_points, n_edges) matrix — arithmetic-bound rather
    than memory-bandwidth-bound for many-vertex polygons.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    x1 = np.roll(xs, -1)
    y1 = np.roll(ys, -1)
    inside = np.zeros(len(px), dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for j in range(len(xs)):
            straddle = (ys[j] > py) != (y1[j] > py)
            if not straddle.any():
                continue
            xcross = (x1[j] - xs[j]) * (py - ys[j]) / (y1[j] - ys[j]) + xs[j]
            inside ^= straddle & (px < xcross)
    return inside


def points_in_polygons_grouped(
    px: np.ndarray,
    py: np.ndarray,
    group_ids: np.ndarray,
    polygons: dict[int, list[list[Ring]]],
) -> np.ndarray:
    """PIP for candidate pairs: point i is tested against
    polygons[group_ids[i]] (list of parts, each outer + holes).

    Vectorizes per group; even-odd within a part (xor over its rings — holes
    punch out), OR across multipolygon parts.
    """
    out = np.zeros(len(px), dtype=bool)
    order = np.argsort(group_ids, kind="stable")
    sorted_gid = group_ids[order]
    boundaries = np.flatnonzero(np.diff(sorted_gid)) + 1
    starts = np.concatenate([[0], boundaries])
    ends = np.concatenate([boundaries, [len(sorted_gid)]])
    for s, e in zip(starts, ends):
        idx = order[s:e]
        gid = int(sorted_gid[s])
        parts = polygons.get(gid)
        if not parts:
            continue
        inside = np.zeros(e - s, dtype=bool)
        for rings in parts:
            part_in = np.zeros(e - s, dtype=bool)
            for xs, ys in rings:
                part_in ^= points_in_ring(px[idx], py[idx], xs, ys)
            inside |= part_in
        out[idx] = inside
    return out


def points_in_packed_grouped(
    px: np.ndarray,
    py: np.ndarray,
    group_ids: np.ndarray,
    packed: np.ndarray,
    cell_ids: np.ndarray | None = None,
    starts: np.ndarray | None = None,
) -> np.ndarray:
    """PIP for candidate pairs whose geometry rides the rows: ``packed[i]``
    is the pack_polygons-encoded geometry for point i's candidate parcel —
    CLIPPED to the candidate's cover cell, so the group key is
    (group_ids, cell_ids): every row in one group shares one packed value,
    decoded once.

    Two input layouts: an object array of per-row packed arrays (None = no
    geometry), or, with ``starts``, the Arrow layout of a ``list<double>``
    column — ``packed`` is the flat values buffer and row i's geometry
    begins at ``packed[starts[i]]`` (the packed layout is self-delimiting,
    so no end offset is needed; every row must carry geometry).

    This is the distributed-refine kernel: no dict of all polygons exists
    anywhere; each Arrow batch carries exactly the geometry it tests.

    Implementation (r07): groups here are (parcel, cover-cell) pairs whose
    clipped geometry is a handful of edges, so a batch holds thousands of
    tiny groups — a per-group PIP call paid ~30 small-array numpy ops per
    group and dominated the flagship refine (measured ~0.7 s of q1). The
    loop now only gathers per-group edge arrays and index bookkeeping
    (~6 cheap ops per group); the actual crossing test runs ONCE over the
    flattened (point, edge) pair set. Per pair the arithmetic is the exact
    expression points_in_ring evaluates, and parity/XOR/OR are
    order-independent, so results are bit-identical to the looped form
    (pinned by tests/test_geom.py equivalence cases).
    """
    n = len(px)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    if cell_ids is None:
        cell_ids = np.zeros(n, dtype=np.int64)
    order = np.lexsort((cell_ids, group_ids))
    sorted_gid = group_ids[order]
    sorted_cell = cell_ids[order]
    changed = (np.diff(sorted_gid) != 0) | (np.diff(sorted_cell) != 0)
    boundaries = np.flatnonzero(changed) + 1
    g_lo = np.concatenate([[0], boundaries])
    g_hi = np.concatenate([boundaries, [n]])

    ex0: list[np.ndarray] = []  # edge start/end coordinate store
    ey0: list[np.ndarray] = []
    ex1: list[np.ndarray] = []
    ey1: list[np.ndarray] = []
    pair_row: list[np.ndarray] = []  # pair -> point row
    pair_edge: list[np.ndarray] = []  # pair -> global edge index
    pair_rp: list[np.ndarray] = []  # pair -> (row, part) parity bucket
    rp_row: list[np.ndarray] = []  # parity bucket -> point row
    n_edges = 0
    n_rp = 0
    for s, e in zip(g_lo, g_hi):
        idx = order[s:e]
        if starts is None:
            flat = packed[idx[0]]
            if flat is None:
                continue
            arr = np.asarray(flat, dtype=np.float64)
        else:
            arr = packed[starts[idx[0]]:]
        pos = 1
        for _ in range(int(arr[0])):  # parts: even-odd within, OR across
            part_ne = 0
            n_rings = int(arr[pos])
            pos += 1
            for _r in range(n_rings):
                m = int(arr[pos])
                xs = arr[pos + 1 : pos + 1 + m]
                ys = arr[pos + 1 + m : pos + 1 + 2 * m]
                ex0.append(xs)
                ey0.append(ys)
                ex1.append(np.roll(xs, -1))
                ey1.append(np.roll(ys, -1))
                part_ne += m
                pos += 1 + 2 * m
            nr = len(idx)
            pair_row.append(np.repeat(idx, part_ne))
            pair_edge.append(
                np.tile(np.arange(n_edges, n_edges + part_ne), nr)
            )
            pair_rp.append(np.repeat(np.arange(n_rp, n_rp + nr), part_ne))
            rp_row.append(idx)
            n_edges += part_ne
            n_rp += nr
    if n_rp == 0:
        return out
    exs = np.concatenate(ex0)
    eys = np.concatenate(ey0)
    exe = np.concatenate(ex1)
    eye = np.concatenate(ey1)
    pr = np.concatenate(pair_row)
    pe = np.concatenate(pair_edge)
    rp = np.concatenate(pair_rp)
    rrow = np.concatenate(rp_row)
    pxp = px[pr]
    pyp = py[pr]
    ys_ = eys[pe]
    y1_ = eye[pe]
    with np.errstate(divide="ignore", invalid="ignore"):
        straddle = (ys_ > pyp) != (y1_ > pyp)
        xcross = (exe[pe] - exs[pe]) * (pyp - ys_) / (y1_ - ys_) + exs[pe]
        cond = straddle & (pxp < xcross)
    parity = np.bincount(rp, weights=cond, minlength=n_rp).astype(np.int64)
    np.logical_or.at(out, rrow, (parity & 1).astype(bool))
    return out


def points_in_rings_grouped(
    px: np.ndarray,
    py: np.ndarray,
    group_ids: np.ndarray,
    rings: dict[int, list[Ring]],
) -> np.ndarray:
    """Back-compat wrapper: hole-free ring lists treated as one-ring parts."""
    return points_in_polygons_grouped(
        px, py, group_ids, {k: [[r] for r in v] for k, v in rings.items()}
    )


def multipolygon_wkt(parts: list[list[Ring]]) -> str:
    """Parts (each outer + holes) -> MULTIPOLYGON WKT, parts sorted by
    (min x, min y) so output is deterministic across partition orders."""

    def ring_str(xs: np.ndarray, ys: np.ndarray) -> str:
        pts = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
        return f"({pts}, {xs[0]!r} {ys[0]!r})"

    keyed = sorted(
        parts, key=lambda rings: (float(rings[0][0].min()), float(rings[0][1].min()))
    )
    bodies = [
        "(" + ", ".join(ring_str(xs, ys) for xs, ys in rings) + ")"
        for rings in keyed
    ]
    return "MULTIPOLYGON (" + ", ".join(bodies) + ")"


def part_area(rings: list[Ring]) -> float:
    """Area of one polygon part: outer ring minus holes (even-odd)."""
    outer = polygon_area(*rings[0])
    return outer - math.fsum(polygon_area(xs, ys) for xs, ys in rings[1:])


def parts_area(parts: list[list[Ring]]) -> float:
    """Total area of a (multi)polygon — non-overlapping parts assumed (the
    reference's map-unit partition semantics)."""
    return math.fsum(part_area(p) for p in parts)


def signed_ring_area(xs: np.ndarray, ys: np.ndarray) -> float:
    x1 = np.roll(xs, -1)
    y1 = np.roll(ys, -1)
    return float(np.sum(xs * y1 - x1 * ys)) * 0.5


def buffer_convex(xs: np.ndarray, ys: np.ndarray, dist: float) -> Ring:
    """Planar miter buffer of a CONVEX ring: offset every edge outward by
    ``dist`` and intersect consecutive offset lines.

    Capability parity with the reference's swath buffering before the
    tiles x orbits sjoin (demeter/raster/sentinel2/tiles.py:70-75) — a
    conservative pre-join dilation (miter corners strictly contain the true
    round-cornered buffer, so the filter-refine contract still never misses).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if signed_ring_area(xs, ys) < 0:  # normalize to CCW
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    # drop zero-length edges and collinear vertices (densified inputs):
    # a collinear corner has parallel adjacent offset lines — the miter
    # intersection would divide by zero
    for _ in range(len(xs)):
        ex_ = np.roll(xs, -1) - xs
        ey_ = np.roll(ys, -1) - ys
        cross = np.roll(ex_, 1) * ey_ - np.roll(ey_, 1) * ex_
        keep = (cross != 0.0) & ((ex_ != 0.0) | (ey_ != 0.0))
        if keep.all():
            break
        xs, ys = xs[keep], ys[keep]
        if len(xs) < 3:
            raise ValueError("degenerate ring: fewer than 3 non-collinear vertices")
    # convexity guard (ADVICE r02): a concave ring would silently produce a
    # self-intersecting offset ring, breaking the conservative-containment
    # guarantee the filter-refine contract depends on — fail loudly instead
    ex_ = np.roll(xs, -1) - xs
    ey_ = np.roll(ys, -1) - ys
    cross_ = np.roll(ex_, 1) * ey_ - np.roll(ey_, 1) * ex_
    if (cross_ < 0.0).any():
        raise ValueError(
            "buffer_convex requires a convex ring: reflex vertex detected "
            "(use a convex hull or split the ring first)"
        )
    ex = np.roll(xs, -1) - xs
    ey = np.roll(ys, -1) - ys
    ln = np.sqrt(ex * ex + ey * ey)
    # outward normal of a CCW edge is (dy, -dx)/|e|
    nx = ey / ln * dist
    ny = -ex / ln * dist
    # offset edge i passes through (xs+n) with direction (ex, ey);
    # new vertex i = intersection of offset edges i-1 and i
    px = xs + nx
    py = ys + ny
    qx = np.roll(px, 1)
    qy = np.roll(py, 1)
    dx1 = np.roll(ex, 1)
    dy1 = np.roll(ey, 1)
    denom = dx1 * ey - dy1 * ex
    t = ((px - qx) * ey - (py - qy) * ex) / denom
    return qx + t * dx1, qy + t * dy1


def segments_hit_open_boxes(
    sx0: np.ndarray, sy0: np.ndarray, sx1: np.ndarray, sy1: np.ndarray,
    bx0: np.ndarray, by0: np.ndarray, bx1: np.ndarray, by1: np.ndarray,
) -> np.ndarray:
    """For E segments and C axis-aligned boxes: bool (C,) — does ANY segment
    pass through the box's OPEN interior?

    Liang-Barsky clip to the closed box gives the parameter interval
    [u1, u2]; the clipped sub-segment meets the open box iff u1 < u2 and the
    sub-segment is not confined to a box face (per axis, its coordinate range
    must extend strictly past the low face and strictly before the high
    face). Exactness argument: within the closed box each coordinate is
    linear with range [lo, hi] ⊆ [face_lo, face_hi], so the per-axis open
    conditions are each violated only on a parameter endpoint — their
    intersection always contains the open interval (u1, u2).

    Memory is O(E * C); callers batch per polygon (E = local edge count,
    C = boxes in the polygon's bbox), which keeps the matrix cache-sized.
    """
    sx0 = np.asarray(sx0, dtype=np.float64)[:, None]
    sy0 = np.asarray(sy0, dtype=np.float64)[:, None]
    sx1 = np.asarray(sx1, dtype=np.float64)[:, None]
    sy1 = np.asarray(sy1, dtype=np.float64)[:, None]
    bx0 = np.asarray(bx0, dtype=np.float64)[None, :]
    by0 = np.asarray(by0, dtype=np.float64)[None, :]
    bx1 = np.asarray(bx1, dtype=np.float64)[None, :]
    by1 = np.asarray(by1, dtype=np.float64)[None, :]
    if sx0.shape[0] == 0 or bx0.shape[1] == 0:
        return np.zeros(bx0.shape[1], dtype=bool)
    dx = sx1 - sx0
    dy = sy1 - sy0
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t1x = (bx0 - sx0) / dx
        t2x = (bx1 - sx0) / dx
        txmin = np.minimum(t1x, t2x)
        txmax = np.maximum(t1x, t2x)
        # axis-parallel segments: in-slab iff the constant coordinate lies
        # within the closed slab (open-face confinement is caught below)
        zx = np.broadcast_to(dx == 0.0, txmin.shape)
        in_slab_x = (sx0 >= bx0) & (sx0 <= bx1)
        txmin = np.where(zx, np.where(in_slab_x, -np.inf, np.inf), txmin)
        txmax = np.where(zx, np.where(in_slab_x, np.inf, -np.inf), txmax)
        t1y = (by0 - sy0) / dy
        t2y = (by1 - sy0) / dy
        tymin = np.minimum(t1y, t2y)
        tymax = np.maximum(t1y, t2y)
        zy = np.broadcast_to(dy == 0.0, tymin.shape)
        in_slab_y = (sy0 >= by0) & (sy0 <= by1)
        tymin = np.where(zy, np.where(in_slab_y, -np.inf, np.inf), tymin)
        tymax = np.where(zy, np.where(in_slab_y, np.inf, -np.inf), tymax)
        u1 = np.maximum(0.0, np.maximum(txmin, tymin))
        u2 = np.minimum(1.0, np.minimum(txmax, tymax))
        # <= not <: when an endpoint sits strictly inside the open box but a
        # clip parameter underflows (e.g. t_exit = 5e-324/2 -> 0.0), the
        # interval degenerates to a single point. The strict open-face checks
        # below already reject a degenerate point ON a face and accept one
        # strictly inside, which is exactly the open-box semantics — so the
        # degenerate interval must not be discarded here (VERDICT r06 #1).
        ok = u1 <= u2
        xa = sx0 + u1 * dx
        xb = sx0 + u2 * dx
        ya = sy0 + u1 * dy
        yb = sy0 + u2 * dy
        hit = (
            ok
            & (np.maximum(xa, xb) > bx0)
            & (np.minimum(xa, xb) < bx1)
            & (np.maximum(ya, yb) > by0)
            & (np.minimum(ya, yb) < by1)
        )
    return hit.any(axis=0)


def touched_grid_boxes(
    parts: list[list[Ring]],
    ox: float,
    oy: float,
    rx: float,
    ry: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Grid boxes the polygon TOUCHES: (ix, iy) index arrays of every cell
    box [ox + ix*rx, ox + (ix+1)*rx) x [oy + iy*ry, ...) whose OPEN interior
    intersects the polygon's interior (even-odd across rings).

    This is the all_touched=True rasterization semantics the reference
    passes at every production mask site (demeter/raster/usgs/utils.py:50,
    polaris.py:274/290/314/355, slga.py:212/230, sentinel2/ndvi.py:434) —
    any positive-area overlap marks the pixel, not just center containment.
    Deviation from GDAL is only on measure-zero contact: a boundary segment
    lying exactly ON a pixel edge marks no pixel here (GDAL's edge-owner
    convention is itself asymmetric); fixtures keep geometry off the pixel
    lattice so the oracle comparison is exact.

    touched = center-inside (even-odd) OR some ring edge passes through the
    open box — equivalent to interior-overlap for simple rings, because a
    box overlapping the interior without containing its center must be
    crossed by the boundary, and every boundary point of a positive-area
    ring is a limit of interior points.

    Requires rx > 0 and ry > 0 (south-up grid, matching raster_cells'
    convention). A north-up transform (ry < 0) would silently produce
    inverted boxes — fail loudly instead; callers flip the origin/sign
    before rasterizing (ADVICE r03).
    """
    if rx <= 0 or ry <= 0:
        raise ValueError(
            f"touched_grid_boxes requires rx > 0 and ry > 0, got ({rx}, {ry});"
            " normalize a north-up transform (negative ry) by flipping the"
            " origin before rasterizing"
        )
    allx = np.concatenate([xs for rings in parts for xs, _ in rings])
    ally = np.concatenate([ys for rings in parts for _, ys in rings])
    ix0 = int(np.floor((allx.min() - ox) / rx))
    ix1 = int(np.floor((allx.max() - ox) / rx))
    iy0 = int(np.floor((ally.min() - oy) / ry))
    iy1 = int(np.floor((ally.max() - oy) / ry))
    gx = np.arange(ix0, ix1 + 1, dtype=np.int64)
    gy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    mix, miy = np.meshgrid(gx, gy, indexing="ij")
    mix = mix.ravel()
    miy = miy.ravel()
    bx0 = ox + mix * rx
    by0 = oy + miy * ry
    bx1 = bx0 + rx
    by1 = by0 + ry
    cx = bx0 + rx * 0.5
    cy = by0 + ry * 0.5
    inside = np.zeros(len(mix), dtype=bool)
    for rings in parts:
        part_in = np.zeros(len(mix), dtype=bool)
        for xs, ys in rings:
            part_in ^= points_in_ring(cx, cy, xs, ys)
        inside |= part_in
    ex0 = np.concatenate([xs for rings in parts for xs, _ in rings])
    ey0 = np.concatenate([ys for rings in parts for _, ys in rings])
    ex1 = np.concatenate([np.roll(xs, -1) for rings in parts for xs, _ in rings])
    ey1 = np.concatenate([np.roll(ys, -1) for rings in parts for _, ys in rings])
    touched = inside | segments_hit_open_boxes(
        ex0, ey0, ex1, ey1, bx0, by0, bx1, by1
    )
    return mix[touched], miy[touched]


def _clip_halfplane(
    xs: np.ndarray, ys: np.ndarray, off: np.ndarray,
    bound: np.ndarray, coord: int, keep_le: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One Sutherland-Hodgman pass over many rings at once: ring s is
    ``xs[off[s]:off[s + 1]]`` and is clipped against its own axis-aligned
    half-plane ``bound[s]`` (coord 0 = x, 1 = y; keep values <= bound if
    keep_le else >= bound). Returns the clipped rings in the same layout.

    Segment-vectorized: successor indices wrap within each ring, and each
    edge emits [intersection if crossing] + [next vertex if next inside] at
    slots given by one cumsum over the per-edge counts, so every ring's
    output stays contiguous and in order. Per element the arithmetic is the
    single-ring pass's, so results do not depend on how rings are batched.
    """
    n = len(xs)
    if n == 0:
        return xs, ys, off
    lens = np.diff(off)
    b = np.repeat(bound, lens)
    v = xs if coord == 0 else ys
    inside = (v <= b) if keep_le else (v >= b)
    nxt = np.arange(1, n + 1)
    nonempty = lens > 0
    nxt[off[1:][nonempty] - 1] = off[:-1][nonempty]
    in_n = inside[nxt]
    crossing = inside != in_n
    # intersection of each crossing edge with the boundary line; its
    # endpoints lie on opposite sides of the bound, so the denominator is
    # nonzero and |t| <= 1 (dividing on every edge overflows on near-equal
    # ordinates of edges that do not cross)
    vn = v[nxt]
    t = np.zeros(n)
    t[crossing] = (b[crossing] - v[crossing]) / (vn[crossing] - v[crossing])
    cx = xs + t * (xs[nxt] - xs)
    cy = ys + t * (ys[nxt] - ys)
    if coord == 0:
        cx[crossing] = b[crossing]  # exact on the clip line
    else:
        cy[crossing] = b[crossing]
    counts = crossing.astype(np.int64) + in_n
    csum = np.concatenate([[0], np.cumsum(counts)])
    total = int(csum[-1])
    out_x = np.empty(total)
    out_y = np.empty(total)
    start = csum[:-1]
    put_cross = start[crossing]
    out_x[put_cross] = cx[crossing]
    out_y[put_cross] = cy[crossing]
    put_next = start[in_n] + crossing[in_n]
    out_x[put_next] = xs[nxt][in_n]
    out_y[put_next] = ys[nxt][in_n]
    return out_x, out_y, csum[off]


def _clip_rings_to_boxes(
    xs: np.ndarray, ys: np.ndarray, off: np.ndarray,
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clip ring s (``xs[off[s]:off[s + 1]]``) to box s, all rings in four
    segment-vectorized half-plane passes."""
    xs, ys, off = _clip_halfplane(xs, ys, off, x1, 0, True)
    xs, ys, off = _clip_halfplane(xs, ys, off, x0, 0, False)
    xs, ys, off = _clip_halfplane(xs, ys, off, y1, 1, True)
    return _clip_halfplane(xs, ys, off, y0, 1, False)


def clip_ring_box(
    xs: np.ndarray, ys: np.ndarray,
    x0: float, y0: float, x1: float, y1: float,
) -> Ring:
    """Clip one ring to an axis-aligned box (Sutherland-Hodgman, 4 passes).
    Non-convex rings come back as one polygon whose interior equals the
    intersection (zero-width bridges lie ON the box edges — raycast parity
    stays exact for points strictly inside the box)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    box = [np.array([c], dtype=np.float64) for c in (x0, y0, x1, y1)]
    cx, cy, _ = _clip_rings_to_boxes(
        xs, ys, np.array([0, len(xs)]), *box
    )
    return cx, cy


def parts_bboxes(parts: list[list[Ring]]) -> list[list[tuple]]:
    """Per-ring bboxes, computed ONCE per polygon so clipping can prescreen
    (ring, box) pairs without touching vertices."""
    return [[ring_bbox(xs, ys) for xs, ys in rings] for rings in parts]


# soft cap on the vertices one clip batch replicates across its boxes: a
# ring is copied once per box its bbox overlaps, so a many-vertex polygon
# with many boundary cells is clipped in box chunks of bounded memory
_CLIP_BATCH_VERTICES = 1 << 20


def clip_parts_to_boxes(
    parts: list[list[Ring]],
    bboxes: list[list[tuple]],
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Clip a (multi)polygon to each of B boxes, ring by ring, in batched
    passes: returns ``(values, offsets)`` where box b's clipped geometry is
    ``values[offsets[b]:offsets[b + 1]]`` in pack_polygons layout — the flat
    buffer + offsets of an Arrow ``list<double>`` column.

    Even-odd parity w.r.t. the clipped rings equals parity w.r.t. the
    originals for any point strictly inside a box, so PIP semantics are
    preserved per box. ``bboxes`` (parts_bboxes) prescreens (ring, box)
    pairs: a ring whose bbox is disjoint from the box has parity 0 there and
    costs no vertex work. A ring that clips to fewer than 3 vertices either
    misses the box or CONTAINS it (parity 1 everywhere — e.g. the outer ring
    of a part whose hole crosses the box): it is kept as the box itself iff
    the ring's bbox contains the box and the ring contains the box centre.
    Parts left with no ring are dropped; a box with none packs as [0.0].
    """
    x0, y0, x1, y1 = (np.asarray(a, dtype=np.float64) for a in (x0, y0, x1, y1))
    rings = [r for rs in parts for r in rs]
    ring_part = np.array(
        [pi for pi, rs in enumerate(parts) for _ in rs], dtype=np.int64
    )
    rb = np.array([bb for bbs in bboxes for bb in bbs], dtype=np.float64)
    rb = rb.reshape(len(rings), 4)
    rlen = np.array([len(xs) for xs, _ in rings], dtype=np.int64)
    rstart = np.concatenate([[0], np.cumsum(rlen)[:-1]]).astype(np.int64)
    rx = np.concatenate([np.asarray(xs, dtype=np.float64) for xs, _ in rings])
    ry = np.concatenate([np.asarray(ys, dtype=np.float64) for _, ys in rings])
    # (box, ring) relations, rings in (part, ring) order
    overlap = ~(
        (rb[None, :, 2] < x0[:, None]) | (rb[None, :, 0] > x1[:, None])
        | (rb[None, :, 3] < y0[:, None]) | (rb[None, :, 1] > y1[:, None])
    )
    contains = (
        (rb[None, :, 0] <= x0[:, None]) & (rb[None, :, 1] <= y0[:, None])
        & (rb[None, :, 2] >= x1[:, None]) & (rb[None, :, 3] >= y1[:, None])
    )
    # box chunks holding at most ~_CLIP_BATCH_VERTICES replicated vertices
    # (a single box above the cap forms its own chunk)
    work = np.cumsum(overlap @ rlen)
    cuts = [0]
    while cuts[-1] < len(x0):
        base = work[cuts[-1] - 1] if cuts[-1] else 0
        nxt = int(np.searchsorted(work, base + _CLIP_BATCH_VERTICES, "right"))
        cuts.append(max(nxt, cuts[-1] + 1))
    values: list[np.ndarray] = []
    offsets: list[np.ndarray] = [np.zeros(1, dtype=np.int64)]
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        v, o = _clip_box_chunk(
            rx, ry, rstart, rlen, ring_part,
            overlap[lo:hi], contains[lo:hi],
            x0[lo:hi], y0[lo:hi], x1[lo:hi], y1[lo:hi],
        )
        values.append(v)
        offsets.append(o[1:] + offsets[-1][-1])
    return np.concatenate(values or [np.empty(0)]), np.concatenate(offsets)


def _clip_box_chunk(rx, ry, rstart, rlen, ring_part, overlap, contains,
                    x0, y0, x1, y1):
    """clip_parts_to_boxes for one chunk of boxes: (values, offsets)."""
    nb = len(x0)
    pb, pr = np.nonzero(overlap)  # pairs in (box, ring) order
    plen = rlen[pr]
    off = np.concatenate([[0], np.cumsum(plen)]).astype(np.int64)
    src = np.repeat(rstart[pr] - off[:-1], plen) + np.arange(off[-1])
    cxs, cys, coff = _clip_rings_to_boxes(
        rx[src], ry[src], off, x0[pb], y0[pb], x1[pb], y1[pb]
    )
    n = np.diff(coff)
    clipped = n >= 3
    # empty-clip fallback: one points_in_ring call per ring over the centres
    # of the boxes its bbox contains
    as_box = np.zeros(len(pb), dtype=bool)
    cand = ~clipped & contains[pb, pr]
    for r in np.unique(pr[cand]):
        sel = np.flatnonzero(cand & (pr == r))
        b = pb[sel]
        s, m = rstart[r], rlen[r]
        as_box[sel] = points_in_ring(
            (x0[b] + x1[b]) * 0.5, (y0[b] + y1[b]) * 0.5,
            rx[s:s + m], ry[s:s + m],
        )
    # pack: per box [n_parts, per kept part: n_rings, per kept ring: n, xs, ys]
    ln = np.where(clipped, n, np.where(as_box, 4, 0))
    kept = np.flatnonzero(ln > 0)
    kb = pb[kept]
    kpart = ring_part[pr[kept]]
    kl = ln[kept]
    new_part = np.ones(len(kept), dtype=bool)
    new_part[1:] = (kb[1:] != kb[:-1]) | (kpart[1:] != kpart[:-1])
    item = 1 + 2 * kl + new_part  # [part header] + ring block
    box_size = 1 + np.bincount(kb, weights=item, minlength=nb).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(box_size)]).astype(np.int64)
    values = np.empty(int(offsets[-1]))
    # item i starts after every earlier item and one header per box so far
    pos = np.concatenate([[0], np.cumsum(item)[:-1]]).astype(np.int64) + kb + 1
    values[offsets[:-1]] = np.bincount(kb[new_part], minlength=nb)
    part_id = np.cumsum(new_part) - 1
    values[pos[new_part]] = np.bincount(part_id)
    hdr = pos + new_part
    values[hdr] = kl
    # clipped vertices of kept rings, then box corners of fallback rings
    ring_of = np.full(len(pb), -1, dtype=np.int64)
    ring_of[kept] = np.arange(len(kept))
    vert_ring = np.repeat(ring_of, n)
    take = vert_ring >= 0
    take[take] = clipped[kept][vert_ring[take]]
    vr = vert_ring[take]
    local = np.arange(len(cxs))[take] - coff[:-1][kept][vr]
    dst = hdr[vr] + 1 + local
    values[dst] = cxs[take]
    values[dst + kl[vr]] = cys[take]
    fb = np.flatnonzero(as_box[kept])
    if len(fb):
        b = kb[fb]
        dst = hdr[fb][:, None] + 1 + np.arange(4)
        values[dst] = np.stack([x0[b], x1[b], x1[b], x0[b]], axis=1)
        values[dst + 4] = np.stack([y0[b], y0[b], y1[b], y1[b]], axis=1)
    return values, offsets


def clip_parts_to_box(
    parts: list[list[Ring]],
    x0: float, y0: float, x1: float, y1: float,
) -> list[list[Ring]]:
    """clip_parts_to_boxes for one box, as parts of rings."""
    values, _ = clip_parts_to_boxes(
        parts, parts_bboxes(parts), [x0], [y0], [x1], [y1]
    )
    return unpack_polygons(values)


def pack_polygons(parts: list[list[Ring]]) -> np.ndarray:
    """Flat-encode a (multi)polygon as one float64 array so geometry can ride
    DataFrame rows (array<double> column) through joins and Arrow batches —
    the distributed alternative to collecting WKT to the driver.

    Layout: [n_parts, then per part: n_rings, then per ring:
    n_pts, x0..x{n-1}, y0..y{n-1}]. Counts are exact in float64 (< 2^53).
    """
    out: list[np.ndarray] = [np.array([float(len(parts))])]
    for rings in parts:
        out.append(np.array([float(len(rings))]))
        for xs, ys in rings:
            out.append(np.array([float(len(xs))]))
            out.append(np.asarray(xs, dtype=np.float64))
            out.append(np.asarray(ys, dtype=np.float64))
    return np.concatenate(out)


def unpack_polygons(flat: np.ndarray) -> list[list[Ring]]:
    """Inverse of pack_polygons."""
    flat = np.asarray(flat, dtype=np.float64)
    pos = 0
    n_parts = int(flat[pos]); pos += 1
    parts: list[list[Ring]] = []
    for _ in range(n_parts):
        n_rings = int(flat[pos]); pos += 1
        rings: list[Ring] = []
        for _ in range(n_rings):
            n = int(flat[pos]); pos += 1
            xs = flat[pos : pos + n]; pos += n
            ys = flat[pos : pos + n]; pos += n
            rings.append((xs, ys))
        parts.append(rings)
    return parts


def polygon_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Shoelace area (planar degrees^2) — used for area-accounting invariants
    mirroring the reference's intersection.area check
    (tests/vector/usda/test_ssurgo.py:19-23)."""
    x1 = np.roll(xs, -1)
    y1 = np.roll(ys, -1)
    return float(abs(np.sum(xs * y1 - x1 * ys)) * 0.5)


def points_in_parts(
    px: np.ndarray, py: np.ndarray, parts: list[list[Ring]]
) -> np.ndarray:
    """Even-odd PIP against a full (multi)polygon: xor over each part's
    rings (holes punch out), OR across parts."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for rings in parts:
        part_in = np.zeros(len(px), dtype=bool)
        for xs, ys in rings:
            part_in ^= points_in_ring(px, py, xs, ys)
        inside |= part_in
    return inside


def segments_cross_any(
    ax0: np.ndarray, ay0: np.ndarray, ax1: np.ndarray, ay1: np.ndarray,
    bx0: np.ndarray, by0: np.ndarray, bx1: np.ndarray, by1: np.ndarray,
) -> bool:
    """True iff ANY segment of set A intersects ANY segment of set B
    (vectorized E_A x E_B orientation test, collinear overlap included)."""
    ax0 = np.asarray(ax0, dtype=np.float64)[:, None]
    ay0 = np.asarray(ay0, dtype=np.float64)[:, None]
    ax1 = np.asarray(ax1, dtype=np.float64)[:, None]
    ay1 = np.asarray(ay1, dtype=np.float64)[:, None]
    bx0 = np.asarray(bx0, dtype=np.float64)[None, :]
    by0 = np.asarray(by0, dtype=np.float64)[None, :]
    bx1 = np.asarray(bx1, dtype=np.float64)[None, :]
    by1 = np.asarray(by1, dtype=np.float64)[None, :]
    if ax0.shape[0] == 0 or bx0.shape[1] == 0:
        return False

    def cross(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    d1 = cross(bx0, by0, bx1, by1, ax0, ay0)
    d2 = cross(bx0, by0, bx1, by1, ax1, ay1)
    d3 = cross(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = cross(ax0, ay0, ax1, ay1, bx1, by1)
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    if proper.any():
        return True

    def on_seg(ox, oy, qx, qy, px_, py_):
        # collinearity established by the caller's d == 0 mask
        return (
            (px_ >= np.minimum(ox, qx)) & (px_ <= np.maximum(ox, qx))
            & (py_ >= np.minimum(oy, qy)) & (py_ <= np.maximum(oy, qy))
        )

    touch = (
        ((d1 == 0) & on_seg(bx0, by0, bx1, by1, ax0, ay0))
        | ((d2 == 0) & on_seg(bx0, by0, bx1, by1, ax1, ay1))
        | ((d3 == 0) & on_seg(ax0, ay0, ax1, ay1, bx0, by0))
        | ((d4 == 0) & on_seg(ax0, ay0, ax1, ay1, bx1, by1))
    )
    return bool(touch.any())


def _part_edges(parts: list[list[Ring]]):
    xs0 = np.concatenate([xs for rings in parts for xs, _ in rings])
    ys0 = np.concatenate([ys for rings in parts for _, ys in rings])
    xs1 = np.concatenate([np.roll(xs, -1) for rings in parts for xs, _ in rings])
    ys1 = np.concatenate([np.roll(ys, -1) for rings in parts for _, ys in rings])
    return xs0, ys0, xs1, ys1


def parts_intersect(a: list[list[Ring]], b: list[list[Ring]]) -> bool:
    """Do two (multi)polygons intersect? (P5 polygon-polygon variant —
    shapely ``intersects`` parity for simple inputs.)

    True iff any vertex of one lies inside the other (even-odd, so a vertex
    inside a hole does not count), or any boundary edges cross/touch —
    covers partial overlap and full containment either way."""
    ax0, ay0, ax1, ay1 = _part_edges(a)
    bx0, by0, bx1, by1 = _part_edges(b)
    if points_in_parts(ax0, ay0, b).any():
        return True
    if points_in_parts(bx0, by0, a).any():
        return True
    return segments_cross_any(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1)


def _dp_keep_mask(xs: np.ndarray, ys: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker keep-mask for the OPEN polyline (xs, ys).

    Iterative stack formulation of the public recursive algorithm; the
    farthest-point search per span is vectorized numpy (squared
    point-to-segment distance, so no sqrt in the hot loop). Endpoints are
    always kept; a point survives iff some processed span has it as its
    max-deviation vertex with deviation > eps. Ties on the max pick the
    lowest index (np.argmax), making output deterministic.
    """
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    eps2 = eps * eps
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        px = xs[i + 1 : j]
        py = ys[i + 1 : j]
        dx = xs[j] - xs[i]
        dy = ys[j] - ys[i]
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            d2 = (px - xs[i]) ** 2 + (py - ys[i]) ** 2
        else:
            # squared distance to the INFINITE line through i-j, clamped to
            # the segment by projecting t into [0, 1]
            t = np.clip(((px - xs[i]) * dx + (py - ys[i]) * dy) / seg2, 0.0, 1.0)
            d2 = (px - (xs[i] + t * dx)) ** 2 + (py - (ys[i] + t * dy)) ** 2
        k = int(np.argmax(d2))
        if d2[k] > eps2:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def simplify_ring(xs: np.ndarray, ys: np.ndarray, eps: float) -> Ring | None:
    """Douglas-Peucker for a CLOSED ring (no closing vertex in the input).

    Rings have no natural endpoints, so the ring is split at vertex 0 and
    at the vertex farthest from vertex 0 (the public closed-ring DP
    construction), each arc simplified independently, then rejoined.
    Returns None when the survivors cannot carry area (< 3 vertices) —
    callers drop such rings (a hole vanishes; an outer ring removes its
    part), mirroring how tile renderers cull sub-pixel geometry.
    """
    n = len(xs)
    if n < 3:
        return None
    if eps <= 0.0:
        return xs, ys
    split = int(np.argmax((xs - xs[0]) ** 2 + (ys - ys[0]) ** 2))
    if split == 0:  # all vertices coincide
        return None
    first = _dp_keep_mask(xs[: split + 1], ys[: split + 1], eps)
    wrap_x = np.concatenate([xs[split:], xs[:1]])
    wrap_y = np.concatenate([ys[split:], ys[:1]])
    second = _dp_keep_mask(wrap_x, wrap_y, eps)
    keep = np.zeros(n, dtype=bool)
    keep[: split + 1] = first
    keep[split:] |= second[:-1]
    keep[0] |= second[-1]
    if keep.sum() < 3:
        return None
    return xs[keep], ys[keep]


def simplify_parts(
    parts: list[list[Ring]], eps: float
) -> list[list[Ring]]:
    """Simplify every ring of a (multi)polygon; collapsed holes are
    dropped, a collapsed outer ring drops its whole part."""
    out: list[list[Ring]] = []
    for rings in parts:
        outer = simplify_ring(rings[0][0], rings[0][1], eps)
        if outer is None:
            continue
        kept = [outer]
        for xs, ys in rings[1:]:
            hole = simplify_ring(xs, ys, eps)
            if hole is not None:
                kept.append(hole)
        out.append(kept)
    return out
