"""Seeded input generators for the three workloads.

The seed is the only source of variation: the same seed gives byte-identical
inputs. The library receives only the generated frames (parquet files under
the run's work directory). Each generator also returns the ground truth the
output checks need and the input properties that make runs with different
seeds comparable; ``check_properties`` holds them to stated tolerances.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Declared input properties: (target, tolerance). A seed whose inputs fall
#: outside a band is refused before any measurement.
GEO_PROPS = {
    # share of points in the busiest res-6 cell (the salted hot cell)
    "hot_cell_share": (0.33, 0.04),
    # share of cover-join candidates (res 10, circle parcels) whose cell is
    # crossed by a parcel boundary, i.e. that need the PIP kernel
    "boundary_candidate_share": (0.39, 0.05),
}
TEXT_PROPS = {
    # share of documents with an exact or near (Jaccard >= 0.8) duplicate
    "near_dup_share": (0.24, 0.02),
    # share of documents of 1000 words or more
    "long_doc_share": (0.03, 0.01),
}

SKEW_RES = 6
JOIN_RES = 10
# page_points jitters each page by at most 0.105 deg around its place; the
# replicas add a seed-keyed jitter of the same size
JITTER = 0.105


def write_parquet(table: pa.Table, path: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` parquet files so the scan starts with
    that many input partitions."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )
    return path


# --------------------------------------------------------------------------
# points
# --------------------------------------------------------------------------


def base_pages(spark, work: str, n_docs: int) -> pa.Table:
    """Geocoded pages from ``synth.page_points`` over a dense doc-id table
    (page_points only reads ``doc_id`` from the documents table): keeps the
    ~25%/~15%/~10% hot-place shares of the synthetic world."""
    from demeter_spark.sources import synth

    docs_dir = os.path.join(work, "pages")
    os.makedirs(docs_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": np.arange(n_docs, dtype=np.int64)}),
        os.path.join(docs_dir, "documents.parquet"),
    )
    return (
        synth.page_points(spark, docs_dir)
        .select("doc_id", "place_id", "lon", "lat")
        .orderBy("doc_id")
        .toArrow()
    )


def replicate_points(base: pa.Table, n_points: int, seed: int) -> pa.Table:
    """``n_points`` rows drawn from ``base`` pages with seed-keyed jitter.

    Every page is repeated in turn (row i copies page i mod n_pages), so the
    hot-place shares of ``base`` carry over exactly."""
    rng = np.random.default_rng([seed, 0])  # stream 0; the corpus uses 7
    n_base = base.num_rows
    src = np.arange(n_points) % n_base
    lon = base["lon"].to_numpy()[src] + rng.uniform(-JITTER, JITTER, n_points)
    lat = base["lat"].to_numpy()[src] + rng.uniform(-JITTER, JITTER, n_points)
    return pa.table(
        {
            "pid": np.arange(n_points, dtype=np.int64),
            "place_id": base["place_id"].to_numpy()[src],
            "lon": lon,
            "lat": lat,
        }
    )


def cell_ixy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid coordinates with the same float expression as ``cell_of``."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * float(n)), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * float(n)), 0, n - 1).astype(np.int64)
    return ix, iy


def hot_cell_share(lon: np.ndarray, lat: np.ndarray, res: int = SKEW_RES) -> float:
    ix, iy = cell_ixy(lon, lat, res)
    _, counts = np.unique(ix * (1 << res) + iy, return_counts=True)
    return float(counts.max() / len(lon))


#: centres and radius of ``synth.circle_parcels`` (the polygons are 128-gons
#: inscribed in these circles)
CIRCLES = [(2.2 + (j % 9) * 3.9, 2.3 + (j // 9) * 3.3, 1.4) for j in range(80)]


def boundary_candidate_share(lon: np.ndarray, lat: np.ndarray, res: int = JOIN_RES) -> float:
    """Share of candidates whose cell box the circle boundary crosses.

    A cell box is a candidate of a circle when its nearest point lies within
    the radius, and a boundary candidate when its farthest point lies
    outside it. Computed per distinct cell, then weighted by points."""
    ix, iy = cell_ixy(lon, lat, res)
    n = 1 << res
    key, counts = np.unique(ix * n + iy, return_counts=True)
    cx0 = (key // n) * (360.0 / n) - 180.0
    cy0 = (key % n) * (180.0 / n) - 90.0
    cx1, cy1 = cx0 + 360.0 / n, cy0 + 180.0 / n
    cand = np.zeros(len(key), dtype=bool)
    edge = np.zeros(len(key), dtype=bool)
    for x, y, r in CIRCLES:
        near = np.hypot(np.clip(x, cx0, cx1) - x, np.clip(y, cy0, cy1) - y)
        far = np.hypot(np.maximum(abs(cx0 - x), abs(cx1 - x)),
                       np.maximum(abs(cy0 - y), abs(cy1 - y)))
        hit = near <= r
        cand |= hit
        edge |= hit & (far > r)
    return float(counts[edge].sum() / max(1, counts[cand].sum()))


# --------------------------------------------------------------------------
# web-text corpus
# --------------------------------------------------------------------------

#: the word list of the ``documents`` test table; the second half of the
#: vocabulary is pseudo-words, so character grams are not all shared
BASE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window of and to in is"
).split()


def _vocab() -> np.ndarray:
    rng = np.random.default_rng(20240901)  # fixed: the vocabulary is not a knob
    syl = ["ka", "lo", "mi", "re", "su", "ta", "ne", "vo", "pi", "ga", "du", "ze"]
    extra = {
        "".join(rng.choice(syl, size=rng.integers(2, 5)))
        for _ in range(3000)
    }
    return np.array(BASE_WORDS + sorted(extra - set(BASE_WORDS)))


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    n_base = len(BASE_WORDS)
    pick_base = rng.random(n) < 0.5
    idx = np.where(
        pick_base, rng.integers(0, n_base, n), rng.integers(n_base, len(vocab), n)
    )
    return vocab[idx].tolist()


def corpus(n_docs: int, seed: int) -> tuple[pa.Table, dict]:
    """Seeded web-text corpus of ``n_docs`` documents.

    Mix (shares of n_docs): ~3% long documents of about 2k words, half of
    which embed a whole short document (the planted containment pairs);
    ~8% near-dup variants (one extra leading word on a source of >= 40 words,
    word-3-gram Jaccard >= 38/39); ~4% exact duplicates; the rest short
    documents of 10..100 words, 2% of them carrying an e-mail address.
    Doc ids are a seeded permutation, so planted relatives are not adjacent.

    Returns the table and the planted truth: ``groups`` (lists of doc ids
    that are copies or variants of one source) and ``embedded`` (pairs
    (short doc, host doc))."""
    rng = np.random.default_rng([seed, 7])
    vocab = _vocab()
    n_long = max(2, round(0.03 * n_docs))
    n_near = round(0.08 * n_docs)
    n_exact = round(0.04 * n_docs)
    n_short = n_docs - n_long - n_near - n_exact
    texts: list[str] = []
    for _ in range(n_short):
        words = _words(rng, vocab, int(rng.integers(10, 101)))
        if rng.random() < 0.02:
            words.insert(int(rng.integers(0, len(words))), f"user{rng.integers(1e6)}@mail.example")
        texts.append(" ".join(words))
    long_src = [i for i, t in enumerate(texts) if t.count(" ") >= 39]
    sources = rng.choice(long_src, size=n_near + n_exact, replace=False)
    groups: dict[int, list[int]] = {int(s): [int(s)] for s in sources}
    for j, s in enumerate(sources):
        groups[int(s)].append(len(texts))
        if j < n_near:
            texts.append(f"{vocab[rng.integers(len(BASE_WORDS), len(vocab))]} {texts[s]}")
        else:
            texts.append(texts[s])
    # hosts embed sources that have no relatives, so each planted pair stays
    # the only containment relation of its short side
    loners = np.setdiff1d(
        [i for i, t in enumerate(texts[:n_short]) if t.count(" ") >= 19], sources
    )
    guests = rng.choice(loners, size=n_long // 2, replace=False)
    embedded: list[tuple[int, int]] = []
    for j in range(n_long):
        words = _words(rng, vocab, int(rng.integers(1800, 2201)))
        if j < len(guests):
            at = int(rng.integers(0, len(words)))
            words = words[:at] + [texts[guests[j]]] + words[at:]
            embedded.append((int(guests[j]), len(texts)))
        texts.append(" ".join(words))
    perm = rng.permutation(n_docs).astype(np.int64)  # position -> doc_id
    table = pa.table({"doc_id": perm, "text": texts}).sort_by("doc_id")
    truth = {
        "groups": [sorted(int(perm[i]) for i in g) for g in groups.values()],
        "embedded": sorted((int(perm[a]), int(perm[b])) for a, b in embedded),
    }
    return table, truth


def long_doc_share(texts: list[str]) -> float:
    return sum(t.count(" ") >= 999 for t in texts) / len(texts)


def check_properties(measured: dict[str, float], declared: dict) -> list[str]:
    """Names and values of properties outside their declared band."""
    bad = []
    for name, value in measured.items():
        target, tol = declared[name]
        if abs(value - target) > tol:
            bad.append(f"{name}={value:.4f} outside {target}±{tol}")
    return bad
