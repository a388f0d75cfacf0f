"""Independent references for the output checks.

Nothing here calls the library: the point-in-polygon truth is plain even-odd
ray casting over the polygon's own vertices, tile counts are numpy
``unique`` over the grid formula, and near-duplicate clusters come from an
exact all-pairs Jaccard (prefix filtering) over Python sets.

``checksum`` is the order-independent content hash both sides compute: the
sum over rows of ``pmod(sum_i col_i * K_i, P)``. The products stay far below
2^63 for the id ranges the generators produce, so Spark's ANSI arithmetic and
numpy int64 agree exactly.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

CHECK_P = 2147483647
CHECK_K = (1000003, 7919, 104729, 15485863)


def checksum_expr(cols: list[str]) -> str:
    """Spark SQL for one row's term of the checksum."""
    terms = " + ".join(f"CAST({c} AS BIGINT) * {k}" for c, k in zip(cols, CHECK_K))
    return f"pmod({terms}, {CHECK_P})"


def checksum(*cols: np.ndarray) -> int:
    acc = np.zeros(len(cols[0]), dtype=np.int64)
    for c, k in zip(cols, CHECK_K):
        acc += np.asarray(c, dtype=np.int64) * k
    return int(np.mod(acc, CHECK_P).sum())


# --------------------------------------------------------------------------
# geometry
# --------------------------------------------------------------------------


def parse_polygon_wkt(wkt: str) -> list[np.ndarray]:
    """``POLYGON ((x y, ...), (x y, ...))`` -> list of (n, 2) rings."""
    return [
        np.array([[float(v) for v in p.split()] for p in ring.split(",")])
        for ring in re.findall(r"\(([^()]+)\)", wkt)
    ]


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray casting over all rings (holes flip parity)."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        x1, y1 = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        for a, b, c, d in zip(x1, y1, x2, y2):
            if b == d:
                continue
            cross = (b > py) != (d > py)
            xint = a + (py - b) * (c - a) / (d - b)
            inside ^= cross & (px < xint)
    return inside


def join_reference(
    pid: np.ndarray, lon: np.ndarray, lat: np.ndarray,
    polygons: list[tuple[int, str]],
) -> tuple[int, int]:
    """(rows, checksum over (pid, parcel_id)) of the containment join."""
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    rows, total = 0, 0
    for parcel_id, wkt in polygons:
        rings = parse_polygon_wkt(wkt)
        xs = np.concatenate([r[:, 0] for r in rings])
        ys = np.concatenate([r[:, 1] for r in rings])
        lo = np.searchsorted(slon, xs.min(), side="left")
        hi = np.searchsorted(slon, xs.max(), side="right")
        idx = order[lo:hi]
        idx = idx[(lat[idx] >= ys.min()) & (lat[idx] <= ys.max())]
        hit = idx[points_in_polygon(lon[idx], lat[idx], rings)]
        rows += len(hit)
        total += checksum(pid[hit], np.full(len(hit), parcel_id))
    return rows, total


def pyramid_reference(lon: np.ndarray, lat: np.ndarray, res_max: int) -> tuple[int, int]:
    """(tiles, checksum over (res, ix, iy, n_points)) of the tile pyramid."""
    n = 1 << res_max
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * float(n)), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * float(n)), 0, n - 1).astype(np.int64)
    rows, total = 0, 0
    for s in range(res_max + 1):
        k = (ix >> s) * n + (iy >> s)
        uk, cnt = np.unique(k, return_counts=True)
        rows += len(uk)
        total += checksum(np.full(len(uk), res_max - s), uk // n, uk % n, cnt)
    return rows, total


# --------------------------------------------------------------------------
# near duplicates
# --------------------------------------------------------------------------


def shingle_set(text: str) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard_pairs(ids: list[int], texts: list[str], t: float) -> set[tuple[int, int]]:
    """Exact word-3-gram Jaccard >= t pairs (a < b), by prefix filtering:
    two sets can reach t only if their rarest |S| - ceil(t|S|) + 1 shingles
    intersect, so only docs sharing a prefix shingle are verified."""
    sets = [shingle_set(x) for x in texts]
    freq: dict[str, int] = defaultdict(int)
    for s in sets:
        for g in s:
            freq[g] += 1
    index: dict[str, list[int]] = defaultdict(list)
    out: set[tuple[int, int]] = set()
    for i in sorted(range(len(sets)), key=lambda j: len(sets[j])):
        s = sets[i]
        if not s:
            continue
        prefix = sorted(s, key=lambda g: (freq[g], g))[: len(s) - math.ceil(t * len(s) - 1e-9) + 1]
        cands = {j for g in prefix for j in index[g]}
        for j in cands:
            inter = len(s & sets[j])
            if inter / (len(s) + len(sets[j]) - inter) >= t:
                a, b = ids[i], ids[j]
                out.add((min(a, b), max(a, b)))
        for g in prefix:
            index[g].append(i)
    return out


def min_id_clusters(ids: list[int], pairs: set[tuple[int, int]]) -> dict[int, int]:
    """doc id -> smallest doc id of its connected component."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}
