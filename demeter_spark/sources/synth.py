"""Deterministic synthetic spatial world, generated twice from one spec.

The driver's correctness gate compares each Spark query against a DuckDB SQL
oracle over the pre-registered testdata views. The engine's spatial inputs
(Common-Crawl-style ``pages`` per BASELINE.json input_hint, a ``gazetteer``,
field-boundary ``parcels``, raster ``tiles``, and the SSURGO-style relational
tables) are therefore synthesized with *closed-form integer arithmetic from
the driver-provided tables / range()*, so the exact same rows can be produced
by (a) Spark expressions here and (b) DuckDB CTE SQL text (``ORACLE_TABLES``).
A pytest (tests/test_synth_parity.py) asserts both engines produce identical
rows.

Shape fidelity to the reference:
- pages columns mandated by BASELINE.json:16 (url, warc_ts, html, text, lang);
- parcels model SSURGO map units (demeter/vector/usda/ssurgo.py:20-41) and the
  reference's hole-free Polygon/MultiPolygon GeoJSON fixtures;
- tiles model demeter's Raster (demeter/raster/__init__.py:11-33): dense grid
  + affine (origin, res), NULL = masked/nodata, one row per tile;
- components/horizons/fragments mirror the three SDA queries' inputs
  (demeter/vector/usda/ssurgo.py:20-108), with engineered comppct ties (TOP 1
  WITH TIES) and NULL soil properties (null-aware weighted averaging).

Skew: ~25% of pages geocode to place 0 and ~15% to place 1 (BASELINE.json
north_rule: skewed hot cells / dense urban tiles), driven by a multiplicative
hash of doc_id — the hot-cell salting path is exercised honestly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---- spec constants (single source of truth for both renderers) ----
N_SITES = 50
N_PLACES = 200
N_RECT = 64
N_DIAMOND = 16
HASH_MULT = 2654435761  # Knuth multiplicative hash
GRID_NX, GRID_NY = 144, 128  # raster grid: [0,36) x [0,32) at 0.25 deg
CELL_DEG = 0.25
TILE = 16  # 16x16 cells per tile
N_COMPONENTS = 240  # 3 per parcel over 80 parcels
N_HORIZONS = N_COMPONENTS * 4
N_FRAGMENTS = N_HORIZONS * 2

HTML_PREFIX = '<html><head><meta charset="utf-8"><title>p</title></head><body><article>'
HTML_SUFFIX = "</article></body></html>"


# --------------------------------------------------------------------------
# Spark builders
# --------------------------------------------------------------------------

def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-style pages (url, warc_ts, html, text, lang) + doc_id.

    html is rendered from text by a fixed escaping template so extraction can
    be verified byte-identical per url (BASELINE.json input_hint).
    """
    return documents(spark, sf_dir).selectExpr(
        "doc_id",
        f"(doc_id * {HASH_MULT}) % 4294967296 AS h",
    ).selectExpr(
        "doc_id",
        f"concat('https://site', CAST(doc_id % {N_SITES} AS STRING), '.example/p/', CAST(doc_id AS STRING)) AS url",
        "timestampadd(SECOND, CAST(doc_id AS INT), TIMESTAMP '2024-09-01 00:00:00') AS warc_ts",
        f"""concat('page ', CAST(doc_id AS STRING), ' visits loc',
              lpad(CAST(CASE WHEN h % 1000 < 250 THEN 0
                             WHEN h % 1000 < 400 THEN 1
                             WHEN h % 1000 < 500 THEN 2
                             ELSE h % {N_PLACES} END AS STRING), 5, '0'),
              ' & <tags> escaped.') AS text""",
        "CASE WHEN h % 20 = 0 THEN 'de' WHEN h % 20 = 1 THEN 'fr' ELSE 'en' END AS lang",
    ).withColumn("html", F.expr(render_html_expr("text"))).select(
        "doc_id", "url", "warc_ts", "html", "text", "lang"
    )


def linked_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pages`` plus a deterministic ``<nav>`` block of two absolute
    anchors per page, OUTSIDE the ``<article>`` body so the byte-identical
    extraction invariant is untouched. Link targets (7d+1, 13d+3 mod
    N_SITES) give a non-uniform host graph: hosts where the two targets
    coincide (s = 8, 33 mod 50) have out-degree 1 after distinct, the rest
    2 — so PageRank over it is not the uniform fixed point."""
    esc = (
        "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
    )
    a1 = (
        f"concat('https://site', CAST((doc_id * 7 + 1) % {N_SITES}"
        " AS STRING), '.example/p/', CAST(doc_id + 1 AS STRING))"
    )
    a2 = (
        f"concat('https://site', CAST((doc_id * 13 + 3) % {N_SITES}"
        " AS STRING), '.example/p/', CAST(doc_id * 2 AS STRING))"
    )
    html = (
        f"encode(concat('{HTML_PREFIX}', {esc}, '</article><nav>',"
        f" '<a href=\"', {a1}, '\">n1</a>',"
        f" '<a href=\"', {a2}, '\">n2</a>',"
        " '</nav></body></html>'), 'UTF-8')"
    )
    return (
        pages(spark, sf_dir)
        .select("doc_id", "url", "warc_ts", "text", "lang")
        .withColumn("html", F.expr(html))
        .select("doc_id", "url", "warc_ts", "html", "text", "lang")
    )


def render_html_expr(text_col: str) -> str:
    """SQL expression rendering escaped HTML bytes from a text column."""
    esc = (
        f"replace(replace(replace({text_col}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    return f"encode(concat('{HTML_PREFIX}', {esc}, '{HTML_SUFFIX}'), 'UTF-8')"


def extract_text_expr(html_col: str) -> str:
    """SQL expression: html binary -> byte-identical original text.

    Pure deterministic inverse of render_html_expr (regex body extraction +
    entity unescape in reverse order) — the byte-identical-text-per-url
    invariant of BASELINE.json input_hint. JVM-side (regexp/replace), no UDF.
    """
    body = f"regexp_extract(decode({html_col}, 'UTF-8'), '<article>(.*)</article>', 1)"
    return (
        f"replace(replace(replace({body}, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')"
    )


def gazetteer(spark: SparkSession) -> DataFrame:
    """Place-name -> point dimension table (broadcast side of geocoding)."""
    return spark.range(N_PLACES).selectExpr(
        "CAST(id AS BIGINT) AS place_id",
        "concat('loc', lpad(CAST(id AS STRING), 5, '0')) AS place",
        "((id * 73) % 9000) / 250e0 AS lon",
        "((id * 131) % 8000) / 250e0 AS lat",
    )


def page_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocoded pages: extract place token from text, join gazetteer,
    deterministic per-page jitter -> (url, doc_id, place_id, lon, lat).

    The token-match geocoding step (FIXTURES.md §4); gazetteer is broadcast.
    """
    p = pages(spark, sf_dir).selectExpr(
        "url",
        "doc_id",
        "regexp_extract(text, 'loc[0-9]{5}', 0) AS place",
        f"(doc_id * {HASH_MULT}) % 4294967296 AS h",
    )
    g = F.broadcast(gazetteer(spark))
    return (
        p.join(g, "place")
        .selectExpr(
            "url",
            "doc_id",
            "place_id",
            "lon + ((h % 211) - 105) / 1000e0 AS lon",
            "lat + (((h div 211) % 211) - 105) / 1000e0 AS lat",
        )
    )


def scaled_page_points(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """Bench-scale fact table: each geocoded page replicated ``factor`` times
    with a distinct url and fresh deterministic jitter (same hot-place skew).

    Used by bench.py only (correctness queries use page_points); keeps the
    100 TB posture honest — the join input is a wide fact table, not a dim.
    """
    base = F.broadcast(page_points(spark, sf_dir).select("doc_id", "place_id", "url"))
    g = F.broadcast(gazetteer(spark).select("place_id", "lon", "lat"))
    n_docs = base.count()
    # The broadcast-joined flagship pipeline is shuffle-free, so downstream
    # parallelism is inherited from here: spark.range is born evenly
    # partitioned across 2x the cores (a real corpus arrives as many files
    # and gets this from the scan), so the fact table is generated WITHOUT
    # any exchange — two broadcast joins off the range, zero shuffles.
    n_parts = spark.sparkContext.defaultParallelism * 2
    # doc_ids are dense 0..n_docs-1 (documents table contract, asserted in
    # tests), so the (doc, rep) fan-out is a pure index decode off the range
    seq = spark.range(0, n_docs * factor, 1, n_parts).selectExpr(
        f"CAST(id % {n_docs} AS BIGINT) AS doc_id",
        f"CAST(id div {n_docs} AS BIGINT) AS rep",
    )
    return (
        seq.join(base, "doc_id")
        .join(g, "place_id")
        .selectExpr(
            "concat(url, '#', CAST(rep AS STRING)) AS url",
            "doc_id",
            "place_id",
            f"(doc_id * {factor} + rep) * {HASH_MULT} % 4294967296 AS h2",
            "lon",
            "lat",
        )
        .selectExpr(
            "url",
            "doc_id",
            "place_id",
            "lon + ((h2 % 211) - 105) / 1000e0 AS lon",
            "lat + (((h2 div 211) % 211) - 105) / 1000e0 AS lat",
        )
    )


def parcels(spark: SparkSession) -> DataFrame:
    """Field-boundary polygons: 64 rectangles + 16 diamonds (convex quads).

    WKT + bbox columns (bbox enables pruning without decoding geometry, per
    SURVEY.md §1.2). Diamond params (cx, cy, a, b) are carried for the oracle;
    the Spark join path only ever uses geom_wkt + bbox — closed-form params
    are never consulted by the engine.
    """
    rows = []
    for i in range(N_RECT):
        col, row = i % 8, i // 8
        xmin = col * 4.5e0 + 0.2505e0
        xmax = xmin + 3.5
        ymin = row * 4e0 + 0.2505e0
        ymax = ymin + 3.25
        wkt = (
            f"POLYGON (({xmin!r} {ymin!r}, {xmax!r} {ymin!r}, {xmax!r} {ymax!r}, "
            f"{xmin!r} {ymax!r}, {xmin!r} {ymin!r}))"
        )
        rows.append((i, "rect", wkt, xmin, ymin, xmax, ymax, None, None, None, None))
    for j in range(N_DIAMOND):
        cx = 3 + (j % 4) * 8 + 0.1875
        cy = 3 + (j // 4) * 8 + 0.1875
        a, b = 1.5, 2.25
        wkt = (
            f"POLYGON (({cx - a!r} {cy!r}, {cx!r} {cy - b!r}, {cx + a!r} {cy!r}, "
            f"{cx!r} {cy + b!r}, {cx - a!r} {cy!r}))"
        )
        rows.append(
            (100 + j, "diamond", wkt, cx - a, cy - b, cx + a, cy + b, cx, cy, a, b)
        )
    # one parcel with a hole (even-odd semantics end-to-end); the hole box
    # is carried in (cx, cy, a, b) = (hx0, hy0, hx1, hy1) for the oracle
    ox0, oy0, ox1, oy1 = 10.2505, 10.2505, 20.7505, 18.5005
    hx0, hy0, hx1, hy1 = 13.2505, 12.2505, 16.7505, 15.5005
    wkt = (
        f"POLYGON (({ox0!r} {oy0!r}, {ox1!r} {oy0!r}, {ox1!r} {oy1!r}, "
        f"{ox0!r} {oy1!r}, {ox0!r} {oy0!r}), "
        f"({hx0!r} {hy0!r}, {hx1!r} {hy0!r}, {hx1!r} {hy1!r}, "
        f"{hx0!r} {hy1!r}, {hx0!r} {hy0!r}))"
    )
    rows.append((200, "holed", wkt, ox0, oy0, ox1, oy1, hx0, hy0, hx1, hy1))
    # pandas + Arrow conversion -> LocalTableScan (r07): a list-of-tuples
    # createDataFrame is RDD-backed and re-serializes the python rows on
    # EVERY action (~0.44 s/action measured); the LocalRelation costs
    # ~0.08 s and embeds in the plan (broadcasts cheaply). Rows verified
    # identical incl. NULL cx/cy/a/b (tests/test_synth_parity.py).
    import pandas as pd

    cols = ["parcel_id", "kind", "geom_wkt", "xmin", "ymin",
            "xmax", "ymax", "cx", "cy", "a", "b"]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols),
        "parcel_id BIGINT, kind STRING, geom_wkt STRING, xmin DOUBLE, ymin DOUBLE, "
        "xmax DOUBLE, ymax DOUBLE, cx DOUBLE, cy DOUBLE, a DOUBLE, b DOUBLE",
    )


def many_parcels(spark: SparkSession, n: int = 50_000) -> DataFrame:
    """Large parcel dimension (n small rectangles on a dense lattice),
    generated DISTRIBUTED (spark.range + SQL string templating — no driver
    loop, no driver WKT list). Exists to prove the flagship join's build side
    scales past anything a driver could hold: rectangles admit a closed-form
    containment truth (bbox test) so correctness stays checkable at any n.

    Grid: 250 columns x ceil(n/250) rows; each parcel is a 0.5 x 0.3 deg
    rect offset +0.0505 off the jitter lattice (boundary-exactness rule,
    FIXTURES.md)."""
    side = 250
    return spark.range(n).selectExpr(
        "id AS parcel_id",
        "'rect' AS kind",
        f"(id % {side}) * 0.72e0 + 0.0505e0 AS xmin",
        f"CAST(id div {side} AS DOUBLE) * 0.44e0 + 0.0505e0 AS ymin",
    ).selectExpr(
        "parcel_id",
        "kind",
        "xmin",
        "ymin",
        "xmin + 0.5e0 AS xmax",
        "ymin + 0.3e0 AS ymax",
    ).selectExpr(
        "parcel_id",
        "kind",
        "concat('POLYGON ((', xmin, ' ', ymin, ', ', xmax, ' ', ymin, ', ',"
        " xmax, ' ', ymax, ', ', xmin, ' ', ymax, ', ', xmin, ' ', ymin, '))')"
        " AS geom_wkt",
        "xmin", "ymin", "xmax", "ymax",
    )


def circle_parcels(spark: SparkSession, n_vertices: int = 128) -> DataFrame:
    """Bench-only parcel variant: 80 dense polygons (circle approximations,
    ``n_vertices`` edges). Same engine machinery as parcels(); the per-
    candidate PIP cost scales with edge count, making the refine stage
    compute-dense — representative of real cadastral/field boundaries, which
    average far more vertices than synthetic rectangles."""
    import numpy as np

    rows = []
    for j in range(80):
        cx = 2.2 + (j % 9) * 3.9
        cy = 2.3 + (j // 9) * 3.3
        r = 1.4
        ang = np.linspace(0.0, 2.0 * np.pi, n_vertices + 1)[:-1]
        xs = cx + r * np.cos(ang)
        ys = cy + r * np.sin(ang)
        pts_s = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
        rows.append(
            (j, "circle", f"POLYGON (({pts_s}, {xs[0]!r} {ys[0]!r}))")
        )
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["parcel_id", "kind", "geom_wkt"]),
        "parcel_id BIGINT, kind STRING, geom_wkt STRING",
    )


def raster_tiles(spark: SparkSession, datasets: tuple[tuple[str, int, int], ...] = (
    ("elevation", 0, 0),
    ("om", 0, 10),
    ("om", 10, 30),
    ("om", 30, 60),
)) -> DataFrame:
    """Dense grid tiles table (demeter Raster model: one row per tile,
    values row-major, NULL = nodata/masked).

    value(ix, iy, depth_lo) = (ix*31 + iy*17 + depth_lo*7) % 97, masked where
    (ix + iy) % 41 == 0 — closed-form so the DuckDB oracle regenerates it.
    """
    n_tiles = (GRID_NX // TILE) * (GRID_NY // TILE)
    # each dataset frame takes a SHARE of the cluster width: the union of
    # len(datasets) frames then totals ~defaultParallelism partitions
    # instead of len(datasets) x defaultParallelism micro-tasks (measured:
    # the 128-task version made every downstream cells stage
    # scheduling-overhead-bound at ~576 rows/task). At least 2 per frame:
    # with one, a small host (local[4] or less) hands each frame to a single
    # task and Spark plans grouped work over it without an Exchange, so plan
    # shape would follow the host's core count
    n_part = max(2, spark.sparkContext.defaultParallelism // len(datasets))
    frames = []
    for ds, dlo, dhi in datasets:
        frames.append(
            spark.range(0, n_tiles, 1, n_part).selectExpr(
                f"'{ds}' AS dataset",
                f"CAST({dlo} AS INT) AS depth_lo",
                f"CAST({dhi} AS INT) AS depth_hi",
                f"CAST(id % {GRID_NX // TILE} AS INT) AS tile_x",
                f"CAST(id div {GRID_NX // TILE} AS INT) AS tile_y",
                f"CAST({CELL_DEG} AS DOUBLE) AS res",
                f"CAST({TILE} AS INT) AS height",
                f"CAST({TILE} AS INT) AS width",
                f"""transform(sequence(0, {TILE * TILE - 1}), p ->
                      CASE WHEN ((id % {GRID_NX // TILE}) * {TILE} + p % {TILE}
                                 + (id div {GRID_NX // TILE}) * {TILE} + p div {TILE}) % 41 = 0
                           THEN CAST(NULL AS DOUBLE)
                           ELSE CAST((((id % {GRID_NX // TILE}) * {TILE} + p % {TILE}) * 31
                                      + ((id div {GRID_NX // TILE}) * {TILE} + p div {TILE}) * 17
                                      + {dlo} * 7) % 97 AS DOUBLE) END) AS values""",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def raster_cells(spark: SparkSession, **kw) -> DataFrame:
    """Exploded cells view of the tiles table: (dataset, depth, ix, iy, cx, cy, value)."""
    return raster_tiles(spark, **kw).selectExpr(
        "dataset",
        "depth_lo",
        "depth_hi",
        "tile_x",
        "tile_y",
        "posexplode(values) AS (p, value)",
    ).selectExpr(
        "dataset",
        "depth_lo",
        "depth_hi",
        f"tile_x * {TILE} + p % {TILE} AS ix",
        f"tile_y * {TILE} + p div {TILE} AS iy",
        "value",
    ).selectExpr(
        "dataset",
        "depth_lo",
        "depth_hi",
        "ix",
        "iy",
        f"ix * {CELL_DEG}e0 + {CELL_DEG / 2}e0 AS cx",
        f"iy * {CELL_DEG}e0 + {CELL_DEG / 2}e0 AS cy",
        "value",
    )


def merge_sources(spark: SparkSession) -> DataFrame:
    """Two overlapping raster sources over the elevation grid (ix 64..79
    overlap): source B disagrees with A where ix % 5 = 0 — exercises the
    overlap-consistency check (merge.py:353-378) and all merge methods."""
    cells = raster_cells(spark).filter("dataset = 'elevation'")
    a = cells.filter("ix < 80").selectExpr(
        "'A' AS source", "1 AS priority", "ix", "iy", "value"
    )
    b = cells.filter("ix >= 64").selectExpr(
        "'B' AS source",
        "2 AS priority",
        "ix",
        "iy",
        "CASE WHEN ix % 5 = 0 THEN value + 1 ELSE value END AS value",
    )
    return a.unionByName(b)


def band_cells(spark: SparkSession) -> DataFrame:
    """Sentinel-2-style band cells: 3 datatake passes over the grid, two UTM
    zones, red/nir reflectance ints and an SCL mask at half resolution
    (R14: scl keyed by (ix//2, iy//2), mirroring 20 m SCL vs 10 m bands)."""
    n = GRID_NX * GRID_NY * 3
    return spark.range(n).selectExpr(
        "CAST(id % 3 AS INT) AS dt",
        f"CAST((id div 3) % {GRID_NX} AS INT) AS ix",
        f"CAST((id div 3) div {GRID_NX} AS INT) AS iy",
    ).selectExpr(
        f"CAST(CASE WHEN ix < {GRID_NX // 2} THEN 32614 ELSE 32615 END AS INT) AS zone",
        "dt",
        "ix",
        "iy",
        "CAST((ix * 7 + iy * 3 + dt * 11) % 5000 AS INT) AS red",
        "CAST((ix * 5 + iy * 13 + dt * 3) % 7000 + 1000 AS INT) AS nir",
        "CAST(((ix div 2) + (iy div 2) + dt) % 12 AS INT) AS scl",
    )


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus engineered near-duplicates: every 4th doc gets a variant
    with one extra leading token (word-3-gram Jaccard ~ (m-2)/(m-1) ~ 0.97)
    and every 10th doc an *exact* duplicate — exercises exact/minhash/jaccard
    dedup honestly."""
    d = documents(spark, sf_dir).select("doc_id", "text")
    near = d.filter("doc_id % 4 = 0").selectExpr(
        "doc_id + 100000 AS doc_id", "concat('v2 ', text) AS text"
    )
    exact = d.filter("doc_id % 10 = 0").selectExpr(
        "doc_id + 200000 AS doc_id", "text"
    )
    return d.unionByName(near).unionByName(exact)


def emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus exact duplicates of every 5th vector — the embedding-
    cosine near-dup fixture (cos = 1 pairs by construction). ``label`` rides
    along as the coarse-quantizer seed for centroid blocking."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    dups = emb.filter("vec_id % 5 = 0").selectExpr(
        "vec_id + 10000 AS vec_id", "embedding", "label"
    )
    return emb.unionByName(dups)


def components(spark: SparkSession) -> DataFrame:
    """SSURGO-style components: 3 per parcel, engineered comppct ties,
    majcompflag filter column (ssurgo.py:42-57)."""
    return spark.range(N_COMPONENTS).selectExpr(
        "id AS component_key",
        "CASE WHEN id div 3 < 64 THEN id div 3 ELSE 100 + (id div 3 - 64) END AS parcel_id",
        "CAST(20 + (id % 2) * 20 AS INT) AS comppct",
        "CASE WHEN id % 5 = 0 THEN 'No' ELSE 'Yes' END AS majcompflag",
        "concat('comp', CAST(id AS STRING)) AS compname",
        "CASE WHEN id % 3 = 0 THEN 'Series' ELSE 'Taxadjunct' END AS compkind",
        "CASE id % 4 WHEN 0 THEN 'Well drained' WHEN 1 THEN 'Poorly drained' "
        "WHEN 2 THEN 'Excessively drained' ELSE NULL END AS drainagecl",
    )


def horizons(spark: SparkSession) -> DataFrame:
    """Soil horizons: 4 contiguous depth layers per component, NULL-holed
    properties (null-aware depth-weighted averaging, ssurgo.py:270-301)."""
    return spark.range(N_HORIZONS).selectExpr(
        "id AS horizon_key",
        "id div 4 AS component_key",
        "CAST(CASE id % 4 WHEN 0 THEN 0 WHEN 1 THEN 10 WHEN 2 THEN 30 ELSE 60 END AS INT) AS top_depth_cm",
        "CAST(CASE id % 4 WHEN 0 THEN 10 WHEN 1 THEN 30 WHEN 2 THEN 60 ELSE 100 END AS INT) AS bottom_depth_cm",
        "CASE WHEN id % 11 = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST((id * 17) % 100 AS DOUBLE) END AS sand",
        "CASE WHEN id % 13 = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST((id * 19) % 100 AS DOUBLE) END AS clay",
        "CASE WHEN id % 17 = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST((id * 23) % 50 AS DOUBLE) / 16e0 END AS om",
    )


def fragments(spark: SparkSession) -> DataFrame:
    """Rock fragments: 2 per horizon, nullable kind (ssurgo.py:98-108)."""
    return spark.range(N_FRAGMENTS).selectExpr(
        "id AS fragment_id",
        "id div 2 AS horizon_key",
        "CAST((id * 3) % 25 AS DOUBLE) AS fragment_pct",
        "CASE id % 5 WHEN 0 THEN CAST(NULL AS STRING) WHEN 1 THEN 'GR' "
        "WHEN 2 THEN 'CB' WHEN 3 THEN 'ST' ELSE 'BY' END AS fragment_kind",
    )


# --------------------------------------------------------------------------
# DuckDB oracle CTE bodies (must generate the exact same rows)
# --------------------------------------------------------------------------

ORACLE_TABLES: dict[str, str] = {
    "gazetteer": f"""
        SELECT i AS place_id,
               'loc' || lpad(CAST(i AS VARCHAR), 5, '0') AS place,
               ((i * 73) % 9000) / 250e0 AS lon,
               ((i * 131) % 8000) / 250e0 AS lat
        FROM range({N_PLACES}) t(i)
    """,
    "pages": f"""
        SELECT doc_id,
               'https://site' || CAST(doc_id % {N_SITES} AS VARCHAR) || '.example/p/'
                 || CAST(doc_id AS VARCHAR) AS url,
               TIMESTAMP '2024-09-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
               'page ' || CAST(doc_id AS VARCHAR) || ' visits loc'
                 || lpad(CAST(CASE WHEN h % 1000 < 250 THEN 0
                                   WHEN h % 1000 < 400 THEN 1
                                   WHEN h % 1000 < 500 THEN 2
                                   ELSE h % {N_PLACES} END AS VARCHAR), 5, '0')
                 || ' & <tags> escaped.' AS text,
               CASE WHEN h % 20 = 0 THEN 'de' WHEN h % 20 = 1 THEN 'fr' ELSE 'en' END AS lang
        FROM (SELECT doc_id, (doc_id * {HASH_MULT}) % 4294967296 AS h FROM documents)
    """,
    # distinct host graph of linked_pages (closed form: the two anchor
    # targets depend only on doc_id mod N_SITES; self-loops are impossible
    # because 6d+1 and 12d+3 are odd while 0 mod 50 needs even)
    "host_edges": f"""
        SELECT DISTINCT 'site' || CAST(s AS VARCHAR) || '.example' AS src,
                        'site' || CAST(d AS VARCHAR) || '.example' AS dst
        FROM (
          SELECT doc_id % {N_SITES} AS s,
                 (doc_id * 7 + 1) % {N_SITES} AS d FROM documents
          UNION ALL
          SELECT doc_id % {N_SITES} AS s,
                 (doc_id * 13 + 3) % {N_SITES} AS d FROM documents
        ) WHERE s <> d
    """,
    "page_points": """
        SELECT p.url, p.doc_id, g.place_id,
               g.lon + ((h % 211) - 105) / 1000e0 AS lon,
               g.lat + (((h // 211) % 211) - 105) / 1000e0 AS lat
        FROM (SELECT url, doc_id, regexp_extract(text, 'loc[0-9]{5}') AS place,
                     (doc_id * 2654435761) % 4294967296 AS h
              FROM pages) p
        JOIN gazetteer g USING (place)
    """,
    "parcels": f"""
        SELECT i AS parcel_id, 'rect' AS kind,
               (i % 8) * 4.5e0 + 0.2505e0 AS xmin, (i // 8) * 4e0 + 0.2505e0 AS ymin,
               (i % 8) * 4.5e0 + 0.2505e0 + 3.5e0 AS xmax, (i // 8) * 4e0 + 0.2505e0 + 3.25e0 AS ymax,
               CAST(NULL AS DOUBLE) AS cx, CAST(NULL AS DOUBLE) AS cy,
               CAST(NULL AS DOUBLE) AS a, CAST(NULL AS DOUBLE) AS b
        FROM range({N_RECT}) t(i)
        UNION ALL
        SELECT 100 + j, 'diamond',
               3 + (j % 4) * 8 + 0.1875e0 - 1.5e0, 3 + (j // 4) * 8 + 0.1875e0 - 2.25e0,
               3 + (j % 4) * 8 + 0.1875e0 + 1.5e0, 3 + (j // 4) * 8 + 0.1875e0 + 2.25e0,
               3 + (j % 4) * 8 + 0.1875e0, 3 + (j // 4) * 8 + 0.1875e0, 1.5e0, 2.25e0
        FROM range({N_DIAMOND}) t(j)
        UNION ALL
        SELECT 200, 'holed', 10.2505e0, 10.2505e0, 20.7505e0, 18.5005e0,
               13.2505e0, 12.2505e0, 16.7505e0, 15.5005e0
    """,
    # point-in-parcel truth predicate (strict inequalities; synthetic points
    # never land exactly on boundaries — asserted in tests/test_synth_parity.py)
    "point_parcel_truth": """
        SELECT pp.url, pp.doc_id, pp.lon, pp.lat, pa.parcel_id
        FROM page_points pp
        JOIN parcels pa
          ON pp.lon > pa.xmin AND pp.lon < pa.xmax
         AND pp.lat > pa.ymin AND pp.lat < pa.ymax
         AND (pa.kind = 'rect'
              OR (pa.kind = 'diamond' AND
                  abs(pp.lon - pa.cx) * pa.b + abs(pp.lat - pa.cy) * pa.a < pa.a * pa.b)
              OR (pa.kind = 'holed' AND NOT (pp.lon > pa.cx AND pp.lon < pa.a
                                             AND pp.lat > pa.cy AND pp.lat < pa.b)))
    """,
    "raster_cells": f"""
        SELECT ds.dataset, ds.depth_lo, ds.depth_hi, x.ix, y.iy,
               x.ix * {CELL_DEG}e0 + {CELL_DEG / 2}e0 AS cx,
               y.iy * {CELL_DEG}e0 + {CELL_DEG / 2}e0 AS cy,
               CASE WHEN (x.ix + y.iy) % 41 = 0 THEN NULL
                    ELSE CAST((x.ix * 31 + y.iy * 17 + ds.depth_lo * 7) % 97 AS DOUBLE)
               END AS value
        FROM range({GRID_NX}) x(ix), range({GRID_NY}) y(iy),
             (VALUES ('elevation', 0, 0), ('om', 0, 10), ('om', 10, 30), ('om', 30, 60))
               ds(dataset, depth_lo, depth_hi)
    """,
    "merge_sources": """
        SELECT 'A' AS source, 1 AS priority, ix, iy, value
        FROM raster_cells WHERE dataset = 'elevation' AND ix < 80
        UNION ALL
        SELECT 'B', 2, ix, iy, CASE WHEN ix % 5 = 0 THEN value + 1 ELSE value END
        FROM raster_cells WHERE dataset = 'elevation' AND ix >= 64
    """,
    "band_cells": f"""
        SELECT CAST(CASE WHEN ix < {GRID_NX // 2} THEN 32614 ELSE 32615 END AS INT) AS zone,
               CAST(dt AS INT) AS dt, CAST(ix AS INT) AS ix, CAST(iy AS INT) AS iy,
               CAST((ix * 7 + iy * 3 + dt * 11) % 5000 AS INT) AS red,
               CAST((ix * 5 + iy * 13 + dt * 3) % 7000 + 1000 AS INT) AS nir,
               CAST(((ix // 2) + (iy // 2) + dt) % 12 AS INT) AS scl
        FROM range(3) d(dt), range({GRID_NX}) x(ix), range({GRID_NY}) y(iy)
    """,
    "ndvi_cells_oracle": """
        SELECT zone, dt, ix, iy,
               CASE WHEN scl IN (3, 8, 9, 10) THEN NULL
                    ELSE floor((nir / 10000e0 - red / 10000e0)
                               / (nir / 10000e0 + red / 10000e0) * 1024e0) / 1024e0
               END AS ndvi
        FROM band_cells
    """,
    "dedup_corpus": """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, 'v2 ' || text FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0
    """,
    "doc_shingles": """
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM dedup_corpus) c,
             UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    """,
    "emb_corpus": """
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 5 = 0
    """,
    "components": f"""
        SELECT i AS component_key,
               CASE WHEN i // 3 < 64 THEN i // 3 ELSE 100 + (i // 3 - 64) END AS parcel_id,
               CAST(20 + (i % 2) * 20 AS INT) AS comppct,
               CASE WHEN i % 5 = 0 THEN 'No' ELSE 'Yes' END AS majcompflag,
               'comp' || CAST(i AS VARCHAR) AS compname,
               CASE WHEN i % 3 = 0 THEN 'Series' ELSE 'Taxadjunct' END AS compkind,
               CASE i % 4 WHEN 0 THEN 'Well drained' WHEN 1 THEN 'Poorly drained'
                    WHEN 2 THEN 'Excessively drained' ELSE NULL END AS drainagecl
        FROM range({N_COMPONENTS}) t(i)
    """,
    "horizons": f"""
        SELECT i AS horizon_key, i // 4 AS component_key,
               CAST(CASE i % 4 WHEN 0 THEN 0 WHEN 1 THEN 10 WHEN 2 THEN 30 ELSE 60 END AS INT) AS top_depth_cm,
               CAST(CASE i % 4 WHEN 0 THEN 10 WHEN 1 THEN 30 WHEN 2 THEN 60 ELSE 100 END AS INT) AS bottom_depth_cm,
               CASE WHEN i % 11 = 0 THEN NULL ELSE CAST((i * 17) % 100 AS DOUBLE) END AS sand,
               CASE WHEN i % 13 = 0 THEN NULL ELSE CAST((i * 19) % 100 AS DOUBLE) END AS clay,
               CASE WHEN i % 17 = 0 THEN NULL ELSE CAST((i * 23) % 50 AS DOUBLE) / 16e0 END AS om
        FROM range({N_HORIZONS}) t(i)
    """,
    "fragments": f"""
        SELECT i AS fragment_id, i // 2 AS horizon_key,
               CAST((i * 3) % 25 AS DOUBLE) AS fragment_pct,
               CASE i % 5 WHEN 0 THEN NULL WHEN 1 THEN 'GR' WHEN 2 THEN 'CB'
                    WHEN 3 THEN 'ST' ELSE 'BY' END AS fragment_kind
        FROM range({N_FRAGMENTS}) t(i)
    """,
}

# dependency order for WITH-clause assembly
_ORACLE_ORDER = [
    "gazetteer",
    "pages",
    "host_edges",
    "page_points",
    "parcels",
    "point_parcel_truth",
    "raster_cells",
    "merge_sources",
    "band_cells",
    "ndvi_cells_oracle",
    "dedup_corpus",
    "doc_shingles",
    "emb_corpus",
    "components",
    "horizons",
    "fragments",
]


def oracle_query(
    select_sql: str,
    tables: tuple[str, ...] | None = None,
    recursive: bool = False,
) -> str:
    """Wrap a SELECT in a WITH clause defining the synthetic tables it uses.

    ``tables=None`` includes everything (dependencies are cheap to evaluate);
    ``tables=()`` emits no WITH clause (query uses only driver views).
    """
    if tables is not None and len(tables) == 0:
        return select_sql
    names = list(tables) if tables else _ORACLE_ORDER
    # include transitive deps by keeping declaration order and any prerequisite
    needed: list[str] = []
    for n in _ORACLE_ORDER:
        if n in names or any(n in ORACLE_TABLES[m] for m in names):
            needed.append(n)
    # second pass for deps-of-deps (pages <- page_points <- truth)
    changed = True
    while changed:
        changed = False
        for n in _ORACLE_ORDER:
            if n not in needed and any(f"{n}" in ORACLE_TABLES[m] for m in needed):
                needed.append(n)
                changed = True
    needed = [n for n in _ORACLE_ORDER if n in needed]
    ctes = ",\n".join(f"{n} AS ({ORACLE_TABLES[n]})" for n in needed)
    kw = "WITH RECURSIVE" if recursive else "WITH"
    if select_sql.lstrip().startswith(","):
        # caller supplies additional CTEs continuing the WITH clause
        return f"{kw} {ctes}{select_sql}"
    return f"{kw} {ctes}\n{select_sql}"
