"""Unit tests for WKT parsing and vectorized point-in-polygon."""

import numpy as np
import pytest

from demeter_spark.functions import geom


def test_parse_polygon_wkt():
    rings = geom.parse_wkt_rings("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert len(rings) == 1
    xs, ys = rings[0]
    assert xs.tolist() == [0, 4, 4, 0]
    assert ys.tolist() == [0, 0, 4, 4]


def test_parse_multipolygon_wkt():
    wkt = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"
    rings = geom.parse_wkt_rings(wkt)
    assert len(rings) == 2
    assert rings[1][0].tolist() == [5, 6, 6]


def test_parse_rejects_holes_in_flat_api():
    wkt = "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))"
    with pytest.raises(ValueError):
        geom.parse_wkt_rings(wkt)


def test_holes_even_odd_semantics():
    wkt = "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 5 2, 5 5, 2 5, 2 2))"
    parts = geom.parse_wkt_polygons(wkt)
    assert len(parts) == 1 and len(parts[0]) == 2
    import numpy as np

    px = np.array([1.0, 3.0, 8.0, 10.0])
    py = np.array([1.0, 3.0, 8.0, 1.0])
    got = geom.points_in_polygons_grouped(
        px, py, np.zeros(4, dtype=int), {0: parts}
    )
    assert got.tolist() == [True, False, True, False]  # hole punches out


def test_wkt_roundtrip():
    xs = np.array([0.5, 4.25, 4.25, 0.5])
    ys = np.array([0.5, 0.5, 4.25, 4.25])
    rings = geom.parse_wkt_rings(geom.ring_to_wkt(xs, ys))
    assert np.allclose(rings[0][0], xs) and np.allclose(rings[0][1], ys)


def test_pip_square():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0])
    px = np.array([2.0, 5.0, -1.0, 3.9, 0.1])
    py = np.array([2.0, 2.0, 2.0, 3.9, 0.1])
    assert geom.points_in_ring(px, py, xs, ys).tolist() == [
        True,
        False,
        False,
        True,
        True,
    ]


def test_pip_concave_l_shape():
    xs = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 0.0])
    ys = np.array([0.0, 0.0, 2.0, 2.0, 4.0, 4.0])
    px = np.array([3.0, 3.0, 1.0, 2.5])
    py = np.array([1.0, 3.0, 3.0, 2.5])
    assert geom.points_in_ring(px, py, xs, ys).tolist() == [True, False, True, False]


def test_pip_matches_halfplane_oracle_on_random_convex():
    """Ray-cast agrees with an independent half-plane test on convex rings."""
    rng = np.random.default_rng(11)
    for trial in range(20):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        r = rng.uniform(1, 3)
        cx, cy = rng.uniform(-50, 50, 2)
        xs = cx + r * np.cos(ang)
        ys = cy + r * np.sin(ang)  # CCW convex polygon
        px = cx + rng.uniform(-4, 4, 500)
        py = cy + rng.uniform(-4, 4, 500)
        x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
        cross = (x1 - xs)[None, :] * (py[:, None] - ys[None, :]) - (y1 - ys)[
            None, :
        ] * (px[:, None] - xs[None, :])
        oracle = (cross > 0).all(axis=1)
        got = geom.points_in_ring(px, py, xs, ys)
        # ignore points within eps of an edge (boundary semantics differ)
        dist_ok = np.abs(cross).min(axis=1) > 1e-9
        assert (got[dist_ok] == oracle[dist_ok]).all()


def test_grouped_pip():
    rings = {
        1: [(np.array([0.0, 2.0, 2.0, 0.0]), np.array([0.0, 0.0, 2.0, 2.0]))],
        2: [(np.array([10.0, 12.0, 12.0, 10.0]), np.array([0.0, 0.0, 2.0, 2.0]))],
    }
    px = np.array([1.0, 11.0, 1.0, 11.0])
    py = np.array([1.0, 1.0, 5.0, 5.0])
    gid = np.array([1, 2, 1, 2])
    got = geom.points_in_rings_grouped(px, py, gid, rings)
    assert got.tolist() == [True, True, False, False]


def test_polygon_area():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 3.0, 3.0])
    assert geom.polygon_area(xs, ys) == 12.0


def test_pack_unpack_roundtrip():
    wkt = (
        "MULTIPOLYGON (((0 0, 4 0, 4 3, 0 3, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1)), "
        "((10 10, 12 10, 11 13, 10 10)))"
    )
    parts = geom.parse_wkt_polygons(wkt)
    flat = geom.pack_polygons(parts)
    back = geom.unpack_polygons(flat)
    assert len(back) == len(parts)
    for p0, p1 in zip(parts, back):
        assert len(p0) == len(p1)
        for (x0, y0), (x1, y1) in zip(p0, p1):
            assert np.array_equal(x0, x1) and np.array_equal(y0, y1)


def test_points_in_packed_grouped_matches_dict_kernel():
    wkt_a = "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    wkt_b = "POLYGON ((10 0, 12 0, 11 3, 10 0))"
    pa = geom.parse_wkt_polygons(wkt_a)
    pb = geom.parse_wkt_polygons(wkt_b)
    px = np.array([0.5, 1.5, 11.0, 10.1, 3.5])
    py = np.array([0.5, 1.5, 0.5, 2.5, 2.9])
    gid = np.array([1, 1, 2, 2, 1])
    packed = np.empty(5, dtype=object)
    for i, g in enumerate(gid):
        packed[i] = geom.pack_polygons(pa if g == 1 else pb)
    got = geom.points_in_packed_grouped(px, py, gid, packed)
    want = geom.points_in_polygons_grouped(px, py, gid, {1: pa, 2: pb})
    assert got.tolist() == want.tolist()
    # hole punched out
    assert got[1] == False  # noqa: E712


def test_clip_ring_box_square():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0])
    cx, cy = geom.clip_ring_box(xs, ys, 1.0, 1.0, 3.0, 3.0)
    assert geom.polygon_area(cx, cy) == 4.0  # 2x2 intersection
    cx, cy = geom.clip_ring_box(xs, ys, -2.0, -2.0, 2.0, 2.0)
    assert geom.polygon_area(cx, cy) == 4.0  # corner overlap
    cx, cy = geom.clip_ring_box(xs, ys, 10.0, 10.0, 12.0, 12.0)
    assert len(cx) == 0  # disjoint


def test_clip_parts_parity_random():
    """PIP parity against clipped rings == against originals for points
    strictly inside the box (incl. holes and multiparts)."""
    wkt = (
        "MULTIPOLYGON (((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2)), "
        "((3 3, 5 3, 5 5, 3 5, 3 3)))"  # island inside the hole
    )
    parts = geom.parse_wkt_polygons(wkt)
    rng = np.random.default_rng(5)
    for box in [(1, 1, 4, 4), (2.5, 2.5, 3.5, 3.5), (-1, -1, 9, 9), (6.5, 0.5, 7.5, 7.5)]:
        x0, y0, x1, y1 = map(float, box)
        clipped = geom.clip_parts_to_box(parts, x0, y0, x1, y1)
        px = rng.uniform(x0 + 1e-9, x1 - 1e-9, 500)
        py = rng.uniform(y0 + 1e-9, y1 - 1e-9, 500)
        gid = np.zeros(500, dtype=np.int64)
        want = geom.points_in_polygons_grouped(px, py, gid, {0: parts})
        got = geom.points_in_polygons_grouped(px, py, gid, {0: clipped})
        assert (got == want).all(), box


def test_clip_outer_contains_box_hole_crosses():
    """Box fully inside the outer ring while the hole crosses it: the outer
    ring must come back as the box (parity 1), not vanish."""
    wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    parts = geom.parse_wkt_polygons(wkt)
    clipped = geom.clip_parts_to_box(parts, 3.5, 3.5, 5.0, 5.0)
    px = np.array([3.75, 4.5])
    py = np.array([3.75, 4.5])
    got = geom.points_in_polygons_grouped(
        px, py, np.zeros(2, dtype=np.int64), {0: clipped}
    )
    assert got.tolist() == [True, False]  # outside hole = in, inside hole = out


def test_points_in_packed_grouped_flat_matches_looped_reference():
    """r07 vectorization: the flattened pair kernel must be BIT-identical
    to the per-group points_in_ring loop it replaced, across random mixed
    geometries (holes, multiparts), duplicate (group, cell) keys, and
    None-geometry rows."""
    rng = np.random.RandomState(11)
    wkts = [
        "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "POLYGON ((10 0, 12 0, 11 3, 10 0))",
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((3 3, 5 3, 4 5, 3 3)))",
        "POLYGON ((-3 -3, 3 -3, 0 3, -3 -3))",
    ]
    parts = [geom.parse_wkt_polygons(w) for w in wkts]
    n = 500
    px = rng.uniform(-4, 13, n)
    py = rng.uniform(-4, 6, n)
    gid = rng.randint(0, 4, n).astype(np.int64)
    cell = rng.randint(0, 3, n).astype(np.int64)
    packed = np.empty(n, dtype=object)
    for i in range(n):
        packed[i] = None if (i % 17 == 0) else geom.pack_polygons(parts[gid[i]])
    # rows sharing (gid, cell) must share one packed value: overwrite by key
    by_key = {}
    for i in range(n):
        by_key.setdefault((gid[i], cell[i]), packed[i])
        packed[i] = by_key[(gid[i], cell[i])]

    got = geom.points_in_packed_grouped(px, py, gid, packed, cell)

    # reference: the pre-r07 per-group loop
    want = np.zeros(n, dtype=bool)
    order = np.lexsort((cell, gid))
    sg, sc = gid[order], cell[order]
    chg = (np.diff(sg) != 0) | (np.diff(sc) != 0)
    bnd = np.flatnonzero(chg) + 1
    for s, e in zip(np.r_[0, bnd], np.r_[bnd, n]):
        idx = order[s:e]
        flat = packed[idx[0]]
        if flat is None:
            continue
        pp = geom.unpack_polygons(np.asarray(flat, dtype=np.float64))
        inside = np.zeros(e - s, dtype=bool)
        for rings in pp:
            part_in = np.zeros(e - s, dtype=bool)
            for xs, ys in rings:
                part_in ^= geom.points_in_ring(px[idx], py[idx], xs, ys)
            inside |= part_in
        want[idx] = inside
    assert got.tolist() == want.tolist()

    # the Arrow layout (flat values + start offsets) of the rows carrying
    # geometry gives the same answers
    has = np.flatnonzero([p is not None for p in packed])
    lens = np.array([len(packed[i]) for i in has])
    flat = np.concatenate([packed[i] for i in has])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    got_arrow = geom.points_in_packed_grouped(
        px[has], py[has], gid[has], flat, cell[has], starts=starts
    )
    assert got_arrow.tolist() == want[has].tolist()


# --- batched cover clip ----------------------------------------------------
# The per-cell clip loop that clip_parts_to_boxes replaced, kept verbatim as
# the bit-identity reference (one ring, one box, four half-plane passes).


def _ref_clip_halfplane(xs, ys, coord, bound, keep_le):
    if len(xs) == 0:
        return xs, ys
    v = xs if coord == 0 else ys
    inside = (v <= bound) if keep_le else (v >= bound)
    nxt = np.arange(1, len(xs) + 1) % len(xs)
    in_n = inside[nxt]
    crossing = inside != in_n
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = np.where(crossing, (bound - v) / (v[nxt] - v), 0.0)
    cx = xs + t * (xs[nxt] - xs)
    cy = ys + t * (ys[nxt] - ys)
    if coord == 0:
        cx = np.where(crossing, bound, cx)
    else:
        cy = np.where(crossing, bound, cy)
    counts = crossing.astype(np.int64) + in_n.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0), np.empty(0)
    out_x = np.empty(total)
    out_y = np.empty(total)
    start = np.concatenate([[0], np.cumsum(counts)[:-1]])
    put_cross = start[crossing]
    out_x[put_cross] = cx[crossing]
    out_y[put_cross] = cy[crossing]
    put_next = start[in_n] + crossing[in_n].astype(np.int64)
    out_x[put_next] = xs[nxt][in_n]
    out_y[put_next] = ys[nxt][in_n]
    return out_x, out_y


def _ref_clip_parts_to_box(parts, x0, y0, x1, y1, bboxes):
    box = (np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]))
    cx = np.array([(x0 + x1) * 0.5])
    cy = np.array([(y0 + y1) * 0.5])
    out = []
    for pi, rings in enumerate(parts):
        kept = []
        for ri, (xs, ys) in enumerate(rings):
            bx0, by0, bx1, by1 = bboxes[pi][ri]
            if bx1 < x0 or bx0 > x1 or by1 < y0 or by0 > y1:
                continue
            may_contain = bx0 <= x0 and by0 <= y0 and bx1 >= x1 and by1 >= y1
            c = (np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64))
            for coord, bound, keep_le in (
                (0, x1, True), (0, x0, False), (1, y1, True), (1, y0, False)
            ):
                c = _ref_clip_halfplane(c[0], c[1], coord, bound, keep_le)
            if len(c[0]) >= 3:
                kept.append(c)
            elif may_contain and geom.points_in_ring(cx, cy, xs, ys)[0]:
                kept.append(box)
        if kept:
            out.append(kept)
    return out


def _circle_wkt(cx, cy, r, n=128):
    ang = np.linspace(0.0, 2.0 * np.pi, n + 1)[:-1]
    xs = cx + r * np.cos(ang)
    ys = cy + r * np.sin(ang)
    pts = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
    return f"POLYGON (({pts}, {xs[0]!r} {ys[0]!r}))"


def _assert_boxes_bit_identical(parts, x0, y0, x1, y1):
    values, offsets = geom.clip_parts_to_boxes(
        parts, geom.parts_bboxes(parts), x0, y0, x1, y1
    )
    assert len(offsets) == len(x0) + 1 and offsets[-1] == len(values)
    bbs = geom.parts_bboxes(parts)
    for j in range(len(x0)):
        want = geom.pack_polygons(
            _ref_clip_parts_to_box(parts, x0[j], y0[j], x1[j], y1[j], bbs)
        )
        got = values[offsets[j]:offsets[j + 1]]
        assert got.view(np.int64).tolist() == want.view(np.int64).tolist(), j


@pytest.mark.parametrize("res", [7, 10, 12])
def test_clip_parts_to_boxes_bit_identical_on_cover_cells(res):
    """The batched clip reproduces the per-cell loop bit for bit on every
    boundary cell of the cover (cells padded as the cover join pads them):
    dense circles, a hole crossing cells, and a multipolygon with an island
    inside a hole."""
    from demeter_spark.functions import cellgrid as cg

    wkts = [_circle_wkt(2.2 + 3.9 * j, 2.3 + 3.3 * (j % 3), 1.4) for j in range(4)]
    wkts += [
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
        "MULTIPOLYGON (((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2)), "
        "((3 3, 5 3, 5 5, 3 5, 3 3)))",
    ]
    for wkt in wkts:
        parts = geom.parse_wkt_polygons(wkt)
        cells, full = cg.polyfill_parts(parts, res)
        bx0, by0, bx1, by1 = cg.cell_bounds(cells[~full])
        ex = (bx1 - bx0) * 1e-9
        ey = (by1 - by0) * 1e-9
        _assert_boxes_bit_identical(parts, bx0 - ex, by0 - ey, bx1 + ex, by1 + ey)


def test_clip_parts_to_boxes_bit_identical_edge_boxes(monkeypatch):
    """Hand-picked boxes: inside the outer ring, crossed by the hole, inside
    the hole, grazing the outer edge and a corner, disjoint — plus an empty
    box list, and the same boxes clipped one chunk per box."""
    parts = geom.parse_wkt_polygons(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    boxes = np.array([
        (1.0, 1.0, 2.0, 2.0),    # inside the outer ring, clear of the hole
        (3.5, 3.5, 5.0, 5.0),    # hole crosses the box
        (4.5, 4.5, 5.5, 5.5),    # inside the hole
        (10.0, 2.0, 11.0, 3.0),  # grazes the outer edge x = 10
        (10.0, 10.0, 11.0, 11.0),  # touches a corner
        (20.0, 20.0, 21.0, 21.0),  # disjoint
    ])
    _assert_boxes_bit_identical(parts, *boxes.T)
    values, offsets = geom.clip_parts_to_boxes(
        parts, geom.parts_bboxes(parts), *np.empty((4, 0))
    )
    assert len(values) == 0 and offsets.tolist() == [0]
    monkeypatch.setattr(geom, "_CLIP_BATCH_VERTICES", 1)
    _assert_boxes_bit_identical(parts, *boxes.T)


def test_clip_parts_to_boxes_empty_clip_fallback(monkeypatch):
    """A ring that clips to nothing is emitted as the box itself iff its
    bbox contains the box and it contains the box centre (forced here: the
    Sutherland-Hodgman passes never collapse a containing ring on finite
    input, so the fallback is exercised by stubbing them out)."""
    def collapse(xs, ys, off, x0, y0, x1, y1):
        return np.empty(0), np.empty(0), np.zeros(len(off), dtype=np.int64)

    monkeypatch.setattr(geom, "_clip_rings_to_boxes", collapse)
    parts = geom.parse_wkt_polygons(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    boxes = np.array([
        (1.0, 1.0, 2.0, 2.0),    # outer only (hole bbox disjoint)
        (4.5, 4.5, 5.5, 5.5),    # outer and hole
        (5.0, 5.0, 7.0, 7.0),    # hole bbox does not contain the box
        (20.0, 20.0, 21.0, 21.0),  # nothing
    ])
    values, offsets = geom.clip_parts_to_boxes(
        parts, geom.parts_bboxes(parts), *boxes.T
    )
    got = [values[offsets[j]:offsets[j + 1]].tolist() for j in range(4)]

    def box(x0, y0, x1, y1):
        return [4.0, x0, x1, x1, x0, y0, y0, y1, y1]

    assert got == [
        [1.0, 1.0] + box(*boxes[0]),
        [1.0, 2.0] + box(*boxes[1]) + box(*boxes[1]),
        [1.0, 1.0] + box(*boxes[2]),
        [0.0],
    ]


def test_clip_near_equal_ordinates_raise_no_warning():
    """Non-crossing edges with near-equal ordinates used to overflow in the
    intersection divide; only crossing edges divide now, and the output is
    unchanged."""
    import warnings

    xs = np.array([0.0, 5e-324, 5e-324, 0.0])  # sub-ulp-wide rectangle
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    want = _ref_clip_halfplane(xs, ys, 0, 1.0, True)
    want = _ref_clip_halfplane(*want, 0, -1.0, False)
    want = _ref_clip_halfplane(*want, 1, 0.5, True)
    want = _ref_clip_halfplane(*want, 1, -1.0, False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = geom.clip_ring_box(xs, ys, -1.0, -1.0, 1.0, 0.5)
    assert len(got[0]) >= 3
    for g, w in zip(got, want):
        assert g.view(np.int64).tolist() == w.view(np.int64).tolist()
