"""Hierarchical cell index (H3/S2-style) over lon/lat, vectorized in numpy.

Capability parity (see SURVEY.md §2.9): the reference enumerates 1-degree x
1-degree raster tiles covering polygon bounds (demeter/raster/utils.py:33-57,
demeter/raster/polaris.py:358-370, demeter/raster/usgs/topography.py:78-104).
Here that generalizes to a proper hierarchical grid:

- a cell at resolution ``r`` is a (360/2^r) x (180/2^r) degree lon/lat box;
- ids are int64: ``(r << 53) | morton(ix, iy)`` — Morton (Z-order) interleave
  gives S2-style spatial locality so range partitions of ids are spatially
  coherent;
- ``polyfill`` returns a *conservative superset* of the cells intersecting a
  polygon (interior fill by center-in-polygon + boundary supercover via dense
  edge sampling dilated one ring). Supersets are safe for the cover-join
  (exact PIP refinement removes false positives); missing a cell would lose
  rows, so conservativeness is the correctness invariant (tested).
- ``compact`` collapses complete sibling quads to their parent (H3 compact
  analogue); ``kring`` yields Chebyshev-k neighborhoods (H3 k-ring analogue,
  used for kNN expansion per BASELINE.json north_rule).

All functions accept and return numpy arrays — no per-row Python — so they
can run inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26  # 2*26 bits of Morton + 5 bits of res fits int64 comfortably

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M8 = np.uint64(0x00FF00FF00FF00FF)
_M16 = np.uint64(0x0000FFFF0000FFFF)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 into even bit positions."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & _M16
    v = (v | (v << np.uint64(8))) & _M8
    v = (v | (v << np.uint64(4))) & _M4
    v = (v | (v << np.uint64(2))) & _M2
    v = (v | (v << np.uint64(1))) & _M1
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bits into the low 32 bits."""
    v = v.astype(np.uint64) & _M1
    v = (v | (v >> np.uint64(1))) & _M2
    v = (v | (v >> np.uint64(2))) & _M4
    v = (v | (v >> np.uint64(4))) & _M8
    v = (v | (v >> np.uint64(8))) & _M16
    v = (v | (v >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return v


def encode(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    """(ix, iy, res) -> int64 cell id."""
    morton = _part1by1(np.asarray(ix)) | (_part1by1(np.asarray(iy)) << np.uint64(1))
    return (morton | (np.uint64(res) << np.uint64(53))).astype(np.int64)


def decode(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell ids -> (ix, iy, res)."""
    u = np.asarray(ids).astype(np.uint64)
    res = (u >> np.uint64(53)).astype(np.int64)
    morton = u & np.uint64((1 << 53) - 1)
    ix = _compact1by1(morton).astype(np.int64)
    iy = _compact1by1(morton >> np.uint64(1)).astype(np.int64)
    return ix, iy, res


def cell_size(res: int) -> tuple[float, float]:
    """(lon_size, lat_size) of a cell at resolution res, in degrees."""
    n = float(1 << res)
    return 360.0 / n, 180.0 / n


def cell_of(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized point -> cell id at resolution res."""
    n = 1 << res
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(ix, 0, n - 1, out=ix)
    np.clip(iy, 0, n - 1, out=iy)
    return encode(ix, iy, res)


def cell_bounds(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell ids -> (lon_min, lat_min, lon_max, lat_max)."""
    ix, iy, res = decode(ids)
    n = (np.int64(1) << res).astype(np.float64)
    lon_sz = 360.0 / n
    lat_sz = 180.0 / n
    lon_min = -180.0 + ix * lon_sz
    lat_min = -90.0 + iy * lat_sz
    return lon_min, lat_min, lon_min + lon_sz, lat_min + lat_sz


def cell_center(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = cell_bounds(ids)
    return (x0 + x1) * 0.5, (y0 + y1) * 0.5


def parent(ids: np.ndarray, steps: int = 1) -> np.ndarray:
    """Parent cell ``steps`` levels up (each level merges a 2x2 quad)."""
    ix, iy, res = decode(ids)
    return encode(ix >> steps, iy >> steps, 0) | (
        ((res - steps).astype(np.uint64) << np.uint64(53)).astype(np.int64)
    )


def _parent_mixed(ids: np.ndarray) -> np.ndarray:
    """parent() that works when ids have mixed resolutions."""
    ix, iy, res = decode(ids)
    morton = _part1by1(ix >> 1) | (_part1by1(iy >> 1) << np.uint64(1))
    return (morton | ((res - 1).astype(np.uint64) << np.uint64(53))).astype(np.int64)


def children(ids: np.ndarray) -> np.ndarray:
    """All 4 children of each cell; shape (len(ids), 4)."""
    ix, iy, res = decode(ids)
    out = np.empty((len(np.atleast_1d(ids)), 4), dtype=np.int64)
    k = 0
    for dx in (0, 1):
        for dy in (0, 1):
            morton = _part1by1((ix << 1) + dx) | (_part1by1((iy << 1) + dy) << np.uint64(1))
            out[:, k] = (morton | ((res + 1).astype(np.uint64) << np.uint64(53))).astype(np.int64)
            k += 1
    return out


def ancestors(ids: np.ndarray, res_min: int) -> np.ndarray:
    """For each id at res r, ids of self + ancestors down to res_min.

    Shape (len(ids), r - res_min + 1); requires uniform input resolution.
    Used on the *point* side of a compact-cover join: a point matches a
    compacted cover cell iff one of its ancestors equals it.
    """
    ids = np.atleast_1d(ids)
    _, _, res = decode(ids)
    r = int(res[0])
    cols = [ids]
    cur = ids
    for _ in range(r - res_min):
        cur = _parent_mixed(cur)
        cols.append(cur)
    return np.stack(cols, axis=1)


def kring(ids: np.ndarray, k: int) -> np.ndarray:
    """Chebyshev-k neighborhood of each cell (H3 k-ring analogue).

    Returns shape (len(ids), (2k+1)^2). Longitude wraps; latitude clamps
    (out-of-range rows are replaced with the center cell, keeping the shape
    rectangular — duplicates are fine for join candidate generation).
    """
    ids = np.atleast_1d(ids)
    ix, iy, res = decode(ids)
    r = int(res[0])
    n = np.int64(1 << r)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (ix[:, None] + dx) % n  # lon wraps
    ny = iy[:, None] + dy
    bad = (ny < 0) | (ny >= n)
    ny = np.where(bad, iy[:, None], ny)
    nx = np.where(bad, ix[:, None], nx)
    morton = _part1by1(nx) | (_part1by1(ny) << np.uint64(1))
    return (morton | (np.uint64(r) << np.uint64(53))).astype(np.int64)


def polyfill(
    xs: np.ndarray, ys: np.ndarray, res: int, classify: bool = False
) -> np.ndarray | tuple[np.ndarray, np.ndarray]:
    """Cells intersecting the polygon ring (xs, ys) at resolution ``res``.

    Conservative superset: interior cells (center inside, ray-cast PIP) union
    boundary cells (each edge sampled at half-cell spacing, result dilated by
    one ring). Any cell containing a point of the polygon is guaranteed to be
    in the output; false positives are removed later by exact PIP refinement.

    With ``classify=True`` also returns a boolean mask marking cells that are
    *provably fully inside* the polygon (center inside AND not in the dilated
    boundary superset — since the boundary set contains every cell touching
    an edge, such cells cannot intersect the boundary). Fully-inside cells
    let the cover join accept candidate points without running the PIP
    refine — the classic filter-refine fast path.

    Mirrors (and generalizes) the reference's tile-cover enumeration
    (demeter/raster/utils.py:33-57 ``bounds_snapped_to_grid``).
    """
    return polyfill_part([(np.asarray(xs), np.asarray(ys))], res, classify=classify)


def polyfill_part(
    rings: list[tuple[np.ndarray, np.ndarray]], res: int, classify: bool = False
):
    """polyfill for one polygon part with holes: rings[0] = outer boundary,
    rings[1:] = holes. Interior = even-odd (center inside an odd number of
    rings); boundary supercover samples every ring (hole boundaries count),
    so 'full' cells are provably clear of outer AND hole edges.
    """
    from demeter_spark.functions import geom as _geom

    outer_xs, outer_ys = (
        np.asarray(rings[0][0], dtype=np.float64),
        np.asarray(rings[0][1], dtype=np.float64),
    )
    n = 1 << res
    lon_sz = 360.0 / n
    lat_sz = 180.0 / n

    ix0 = max(int(np.floor((outer_xs.min() + 180.0) / lon_sz)) - 1, 0)
    ix1 = min(int(np.floor((outer_xs.max() + 180.0) / lon_sz)) + 1, n - 1)
    iy0 = max(int(np.floor((outer_ys.min() + 90.0) / lat_sz)) - 1, 0)
    iy1 = min(int(np.floor((outer_ys.max() + 90.0) / lat_sz)) + 1, n - 1)

    gx = np.arange(ix0, ix1 + 1, dtype=np.int64)
    gy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    cx = -180.0 + (gx + 0.5) * lon_sz
    cy = -90.0 + (gy + 0.5) * lat_sz
    mx, my = np.meshgrid(cx, cy, indexing="ij")
    mix, miy = np.meshgrid(gx, gy, indexing="ij")
    inside = np.zeros(mx.size, dtype=bool)
    for rxs, rys in rings:
        inside ^= _geom.points_in_ring(
            mx.ravel(), my.ravel(), np.asarray(rxs), np.asarray(rys)
        )
    interior_ix = mix.ravel()[inside]
    interior_iy = miy.ravel()[inside]

    # Boundary supercover: sample each edge of EVERY ring densely (<= half
    # min cell size), then dilate one ring of cells — guarantees every
    # boundary-touching cell appears.
    step = 0.5 * min(lon_sz, lat_sz)
    xs = np.concatenate([np.asarray(r[0], dtype=np.float64) for r in rings])
    ex0 = xs
    ey0 = np.concatenate([np.asarray(r[1], dtype=np.float64) for r in rings])
    ys = ey0
    ex1 = np.concatenate(
        [np.roll(np.asarray(r[0], dtype=np.float64), -1) for r in rings]
    )
    ey1 = np.concatenate(
        [np.roll(np.asarray(r[1], dtype=np.float64), -1) for r in rings]
    )
    seg_len = np.hypot(ex1 - ex0, ey1 - ey0)
    n_samp = np.maximum((seg_len / step).astype(np.int64) + 2, 2)
    total = int(n_samp.sum())
    # build sample parameter t per segment, flattened
    seg_idx = np.repeat(np.arange(len(xs)), n_samp)
    within = np.arange(total) - np.repeat(np.cumsum(n_samp) - n_samp, n_samp)
    t = within / (n_samp[seg_idx] - 1).astype(np.float64)
    px = ex0[seg_idx] + (ex1[seg_idx] - ex0[seg_idx]) * t
    py = ey0[seg_idx] + (ey1[seg_idx] - ey0[seg_idx]) * t
    bix = np.clip(np.floor((px + 180.0) / lon_sz).astype(np.int64), 0, n - 1)
    biy = np.clip(np.floor((py + 90.0) / lat_sz).astype(np.int64), 0, n - 1)
    # dilate one ring (full 3x3 cross product of offsets)
    offs = np.array([-1, 0, 1], dtype=np.int64)
    shape = (len(bix), 3, 3)
    dbx = np.broadcast_to(
        bix[:, None, None] + offs[None, :, None], shape
    ).reshape(-1)
    dby = np.broadcast_to(
        biy[:, None, None] + offs[None, None, :], shape
    ).reshape(-1)
    ok = (dbx >= 0) & (dbx < n) & (dby >= 0) & (dby < n)
    bx = dbx[ok]
    by = dby[ok]

    all_ix = np.concatenate([interior_ix, bx])
    all_iy = np.concatenate([interior_iy, by])
    if len(all_ix) == 0:
        if classify:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
        return np.empty(0, dtype=np.int64)
    cells = np.unique(encode(all_ix, all_iy, res))
    if not classify:
        return cells
    center_inside = np.unique(encode(interior_ix, interior_iy, res))
    boundary = (
        np.unique(encode(bx, by, res)) if len(bx) else np.empty(0, dtype=np.int64)
    )
    full = np.isin(cells, center_inside) & ~np.isin(cells, boundary)
    return cells, full


def polyfill_parts(parts: list, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cover of a (multi)polygon at ``res``: (sorted cells, full), where
    full marks cells no ring boundary of any part crosses and some part
    covers — the classification both the cover join and the tile cut use.
    """
    per_part = [polyfill_part(p_, res, classify=True) for p_ in parts]
    cells = np.unique(np.concatenate([c for c, _ in per_part]))
    # full in the union if full in any part (multipolygon parts may overlap
    # a cell another part only touches)...
    full = np.zeros(len(cells), dtype=bool)
    for c, f in per_part:
        full |= np.isin(cells, c[f])
    # ...but never full if any part's boundary crosses it
    for c, f in per_part:
        full &= ~np.isin(cells, c[~f])
    return cells, full


def compact(ids: np.ndarray) -> np.ndarray:
    """Minimal mixed-resolution set covering the same area (H3 compact).

    Repeatedly replaces complete 4-sibling quads by their parent.
    Input ids may be mixed-resolution already; output sorted.
    """
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    while True:
        _, _, res = decode(ids)
        if len(ids) < 4 or int(res.max()) == 0:
            return np.sort(ids)
        out = []
        changed = False
        for r in np.unique(res):
            lvl = ids[res == r]
            if r == 0 or len(lvl) < 4:
                out.append(lvl)
                continue
            par = _parent_mixed(lvl)
            uniq, counts = np.unique(par, return_counts=True)
            full = uniq[counts == 4]
            if len(full):
                changed = True
                keep = ~np.isin(par, full)
                out.append(lvl[keep])
                out.append(full)
            else:
                out.append(lvl)
        ids = np.unique(np.concatenate(out))
        if not changed:
            return np.sort(ids)
