"""Cover-join + PIP refine must reproduce the closed-form containment truth
row-for-row (BASELINE.json north_rule: 'matching the reference's join output
rows and tile assignments')."""

import pytest

from demeter_spark.operators import joins
from demeter_spark.sources import synth
from tests.conftest import SF_DIR


def _truth(ddb):
    return set(
        map(
            tuple,
            ddb.sql(
                synth.oracle_query(
                    "SELECT url, parcel_id FROM point_parcel_truth"
                )
            ).fetchall(),
        )
    )


@pytest.mark.parametrize("compact,res", [(False, 7), (False, 9), (True, 9)])
def test_spatial_join_matches_truth(spark, ddb, compact, res):
    pts = synth.page_points(spark, SF_DIR)
    par = synth.parcels(spark)
    got = joins.spatial_join(pts, par, res=res, compact=compact)
    got_set = set(
        map(tuple, got.select("url", "parcel_id").distinct().collect())
    )
    assert got_set == _truth(ddb)


def test_spatial_join_shuffle_strategy(spark, ddb):
    pts = synth.page_points(spark, SF_DIR)
    par = synth.parcels(spark)
    got = joins.spatial_join(pts, par, res=8, broadcast_cover=False)
    got_set = set(map(tuple, got.select("url", "parcel_id").collect()))
    assert got_set == _truth(ddb)


def test_spatial_join_large_build_side(spark):
    """50k parcels: the build side is far past what a driver-side dict could
    plausibly hold per-task; geometry must flow through the join as packed
    cover-row columns. broadcast_cover=False exercises the shuffle path.
    Rectangles admit a closed-form containment truth (pure SQL, no join)."""
    par = synth.many_parcels(spark, 50_000)
    pts = spark.range(20_000).selectExpr(
        "concat('p', CAST(id AS STRING)) AS url",
        "((id * 37) % 17900) / 100e0 + 0.03e0 AS lon",
        "((id * 53) % 8700) / 100e0 + 0.03e0 AS lat",
    )
    got = joins.spatial_join(pts, par, res=9, broadcast_cover=False).select(
        "url", "parcel_id"
    )
    expected = (
        pts.selectExpr(
            "url",
            "CAST(floor((lon - 0.0505e0) / 0.72e0) AS BIGINT) AS col",
            "CAST(floor((lat - 0.0505e0) / 0.44e0) AS BIGINT) AS row",
            "lon",
            "lat",
        )
        .selectExpr(
            "url",
            "row * 250 + col AS parcel_id",
            "lon - (col * 0.72e0 + 0.0505e0) AS dx",
            "lat - (row * 0.44e0 + 0.0505e0) AS dy",
        )
        .filter(
            "dx > 0 AND dx < 0.5e0 AND dy > 0 AND dy < 0.3e0"
            " AND parcel_id >= 0 AND parcel_id < 50000"
        )
        .select("url", "parcel_id")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_no_driver_geometry_collect():
    """Regression guard for the round-1 scale defect: the spatial-join
    machinery must not materialize the POLYGON dimension on the driver.
    Scoped to the cover-join functions (r07): the kNN map-only fast path
    legitimately collects the site dimension — the same memory class the
    ring path's unconditional F.broadcast(site_cells) already commits to —
    so the guard pins the polygon path, not the whole module."""
    import inspect

    from demeter_spark.operators import joins as joins_mod

    for fn in (joins_mod.parcel_covers, joins_mod.spatial_join):
        src = inspect.getsource(fn)
        assert ".collect()" not in src, fn.__name__
        assert "sparkContext.broadcast" not in src, fn.__name__


def test_refine_edge_batches(spark):
    """The Arrow refine on edge batches: candidates that are all in full
    cover cells (the kernel never runs), an empty candidate set, and NULL
    lon/lat (no cell, so never a candidate)."""
    import numpy as np

    from demeter_spark.functions import cellgrid as cg

    parcels = spark.createDataFrame(
        [(7, "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))")],
        "parcel_id long, geom_wkt string",
    )
    rows = [(i, 10.0 + i * 0.5, 12.0 + i * 0.25) for i in range(40)]
    pts = spark.createDataFrame(
        rows + [(100, None, 5.0), (101, 5.0, None), (102, None, None)],
        "pid long, lon double, lat double",
    )
    covers = joins.parcel_covers(parcels, res=7).toPandas()
    full = set(covers.loc[covers["full"], "cell"])
    cells = cg.cell_of(np.array([r[1] for r in rows]), np.array([r[2] for r in rows]), 7)
    assert set(cells.tolist()) <= full  # every candidate is a full-cell one

    got = joins.spatial_join(pts, parcels, res=7).collect()
    assert sorted((r["pid"], r["parcel_id"]) for r in got) == [(i, 7) for i in range(40)]

    far = pts.selectExpr("pid", "lon + 100e0 AS lon", "lat")
    assert joins.spatial_join(far, parcels, res=7).collect() == []


def test_knn_ring_doubling_sparse(spark):
    """Sparse sites: most points are unresolved at ring 2 and must escalate
    by doubling — and the plan must stay equi-join-only (no Cartesian /
    nested-loop fallback) because every point resolves within max_ring."""
    import numpy as np

    pts = synth.page_points(spark, SF_DIR)
    gaz = synth.gazetteer(spark).filter("place_id % 50 = 1")  # 4 sparse sites
    # release_caches=False keeps the live plan inspectable (the default
    # checkpoints the result, which would collapse the plan to an RDD scan);
    # start_ring=2 pins the doubling path (auto would start wide enough to
    # resolve level 1 on this sparse fixture — escalation must stay covered)
    got = joins.knn_join(pts, gaz, k=2, res=6, brute_threshold=0,
                         release_caches=False, start_ring=2,
                         map_only_sites=0)  # pin the ring path (r07)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan

    # sanity that this fixture actually exercises escalation: >10% of points
    # have their 2nd-nearest site beyond the ring-2 exclusion radius
    P = pts.select("url", "lon", "lat").collect()
    S = gaz.select("place_id", "lon", "lat").collect()
    px = np.array([r["lon"] for r in P])
    py = np.array([r["lat"] for r in P])
    sx = np.array([r["lon"] for r in S])
    sy = np.array([r["lat"] for r in S])
    sid = np.array([r["place_id"] for r in S])
    d2 = (px[:, None] - sx[None, :]) ** 2 + (py[:, None] - sy[None, :]) ** 2
    lat_sz = 180.0 / (1 << 6)
    kth = np.sort(np.sqrt(d2), axis=1)[:, 1]
    assert (kth >= 2 * lat_sz).mean() > 0.10

    truth = set()
    order = np.lexsort((np.broadcast_to(sid, d2.shape), d2), axis=1)
    for i, r in enumerate(P):
        for rk in range(2):
            truth.add((r["url"], int(sid[order[i, rk]]), rk + 1))
    got_rows = {(g["url"], g["place_id"], g["rank"]) for g in got.collect()}
    assert got_rows == truth


def test_knn_releases_level_caches(spark):
    """VERDICT r02 'What's wrong #2': doubling-level caches must not outlive
    the query. After knn_join returns (default release_caches=True), the SQL
    cache manager holds nothing, and the result stays correct/actionable."""
    spark.catalog.clearCache()
    pts = synth.page_points(spark, SF_DIR).filter("doc_id < 60")
    gaz = synth.gazetteer(spark).filter("place_id % 10 = 1")
    out = joins.knn_join(pts, gaz, k=2, res=6)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    n = out.count()
    assert n == pts.count() * 2


def test_knn_map_only_equals_ring_path(spark):
    """r07: the map-only broadcast-dimension path must produce EXACTLY the
    ring path's rows — same (url, place_id, rank) and bit-identical dist —
    and its plan must be shuffle-free (no Exchange, no Window)."""
    pts = synth.page_points(spark, SF_DIR).filter("doc_id < 120")
    gaz = synth.gazetteer(spark)
    fast = joins.knn_join(pts, gaz, k=3, res=6)  # 200 sites -> map-only
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # no SHUFFLE exchange and no Window anywhere (broadcast exchanges from
    # page_points' internal geocode join are fine — they move no fact rows)
    import re

    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert "Window" not in plan, plan
    ring = joins.knn_join(pts, gaz, k=3, res=6, map_only_sites=0)
    f_rows = {
        (r["url"], r["place_id"], r["rank"], r["dist"])
        for r in fast.collect()
    }
    r_rows = {
        (r["url"], r["place_id"], r["rank"], r["dist"])
        for r in ring.collect()
    }
    assert f_rows == r_rows and len(f_rows) > 0
    # k > |sites|: both paths cap at the site count
    tiny = synth.gazetteer(spark).filter("place_id < 2")
    assert joins.knn_join(pts.limit(5), tiny, k=5, res=6).count() == 10


def test_knn_join_matches_bruteforce(spark, ddb):
    pts = synth.page_points(spark, SF_DIR).limit(40)
    gaz = synth.gazetteer(spark)
    got = joins.knn_join(pts, gaz, k=3, res=6)
    got_rows = {
        (r["url"], r["place_id"], r["rank"]) for r in got.collect()
    }
    # brute-force oracle in DuckDB over the same synthetic world
    urls = [r["url"] for r in pts.select("url").collect()]
    url_list = ",".join(f"'{u}'" for u in urls)
    sql = synth.oracle_query(
        f"""
        SELECT url, place_id, rnk FROM (
          SELECT pp.url, g.place_id,
                 row_number() OVER (
                   PARTITION BY pp.url
                   ORDER BY (pp.lon-g.lon)*(pp.lon-g.lon)
                          + (pp.lat-g.lat)*(pp.lat-g.lat), g.place_id
                 ) AS rnk
          FROM page_points pp, gazetteer g
          WHERE pp.url IN ({url_list})
        ) WHERE rnk <= 3
        """
    )
    truth = set(map(tuple, ddb.sql(sql).fetchall()))
    assert got_rows == truth
