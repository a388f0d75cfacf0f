"""Spatial joins: cell-cover equi-join + exact point-in-polygon refinement.

The flagship operator (SURVEY.md §2.3 J1, §4 T4): the reference executes
spatial theta-joins by shipping STIntersects to a remote SQL engine
(demeter/vector/usda/ssurgo.py:22-31) or by bbox-prefilter + exact
``GeoSeries.intersects`` refine (demeter/raster/usgs/hydrography.py:376-399).
Here the same filter-refine pattern is Spark-native:

1. polygons -> covering cell ids at resolution R (``polyfill``, a conservative
   superset — never misses a containing cell);
2. points -> cell id at R (one vectorized UDF);
3. **equi-join on cell id** — plain Catalyst join, so broadcast/SMJ selection,
   AQE skew-splitting and partition pruning all apply unmodified;
4. exact PIP refine in an ``arrow_udf`` over flat ring buffers. Geometry
   travels WITH the data: boundary cover rows carry the parcel's ring
   coordinates, clipped to the cell in one batched pass per polygon, as an
   ``array<double>`` column, and the refine reads each batch's geometry as
   one Arrow values buffer plus offsets — no driver-side collect/broadcast
   of the polygon dimension anywhere. Interior (fully-covered) cells carry
   NULL geometry and skip the kernel entirely.

Scale posture: the polygon dimension may exceed driver memory (continental
parcel sets); every stage here is executor-side and keyed, so the build side
scales with the cluster, not the driver.

Compact covers (H3 compact analogue) shrink the build side for large
polygons: the point side then explodes each point cell into its ancestor
chain (res R .. R_min) and joins on any level.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from demeter_spark.functions import cellgrid as cg
from demeter_spark.functions import geom
from demeter_spark.functions.spark_udfs import ancestors_of, cell_of

DEFAULT_RES = 7  # ~2.8 x 1.4 deg cells; tuned per dataset via argument


def parcel_covers(
    parcels: DataFrame,
    res: int = DEFAULT_RES,
    compact: bool = False,
) -> DataFrame:
    """(parcel_id, geom_wkt) -> exploded (parcel_id, cell, full, rings) cover.

    Runs as mapInArrow over the polygon dimension: per-polygon WKT parse,
    vectorized polyfill, and one batched clip of the polygon to all of its
    boundary cells (geom.clip_parts_to_boxes). Polygon count is the
    *dimension* cardinality (small relative to pages).

    Boundary cells (full=false) carry the parcel's ring coordinates CLIPPED
    to the cell box + epsilon, in geom.pack_polygons layout, so the
    downstream PIP refine never needs the polygon dimension on the driver,
    and a cover row carries only the handful of vertices that cross its own
    cell: Arrow transfer and PIP cost per candidate are O(local boundary),
    independent of the parcel's total vertex count. The epsilon expansion
    keeps points that sit exactly ON a cell edge strictly interior to the
    clip box (parity stays exact). Interior cells carry NULL (they need no
    refinement). The rings column is built straight from the clip's flat
    values + offsets — no per-row objects.
    """

    def _covers(batches):
        for batch in batches:
            ids: list[np.ndarray] = []
            cells: list[np.ndarray] = []
            fulls: list[np.ndarray] = []
            lens: list[np.ndarray] = []
            values: list[np.ndarray] = []
            for pid, wkt in zip(
                batch.column("parcel_id").to_pylist(),
                batch.column("geom_wkt").to_pylist(),
            ):
                parts = geom.parse_wkt_polygons(wkt)
                cs, full = cg.polyfill_parts(parts, res)
                bnd = cs[~full]
                bx0, by0, bx1, by1 = cg.cell_bounds(bnd)
                ex = (bx1 - bx0) * 1e-9
                ey = (by1 - by0) * 1e-9
                vals, offs = geom.clip_parts_to_boxes(
                    parts, geom.parts_bboxes(parts),
                    bx0 - ex, by0 - ey, bx1 + ex, by1 + ey,
                )
                if compact:
                    fc = cg.compact(cs[full])
                    cs = np.concatenate([fc, bnd])
                    full = np.concatenate(
                        [np.ones(len(fc), dtype=bool), np.zeros(len(bnd), dtype=bool)]
                    )
                n = np.zeros(len(cs), dtype=np.int64)
                n[~full] = np.diff(offs)
                ids.append(np.full(len(cs), pid, dtype=np.int64))
                cells.append(cs)
                fulls.append(full)
                lens.append(n)
                values.append(vals)
            if not cells:
                continue
            full = np.concatenate(fulls)
            offsets = np.concatenate([[0], np.cumsum(np.concatenate(lens))])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(ids)),
                    pa.array(np.concatenate(cells)),
                    pa.array(full),
                    pa.ListArray.from_arrays(
                        pa.array(offsets.astype(np.int32)),
                        pa.array(np.concatenate(values)),
                        mask=pa.array(full),
                    ),
                ],
                names=["parcel_id", "cell", "full", "rings"],
            )

    # spread polygons across tasks: the kernel is per-polygon numpy, so the
    # dimension-side fill parallelizes embarrassingly
    spark = parcels.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    return (
        parcels.select("parcel_id", "geom_wkt")
        .repartition(n_parts, "parcel_id")
        .mapInArrow(
            _covers,
            "parcel_id BIGINT, cell BIGINT, full BOOLEAN, rings ARRAY<DOUBLE>",
        )
    )


def spatial_join(
    points: DataFrame,
    parcels: DataFrame,
    res: int = DEFAULT_RES,
    compact: bool = False,
    broadcast_cover: bool = True,
    lon: str = "lon",
    lat: str = "lat",
    hot_cells: "list[int] | str | None" = None,
    n_salt: int = 8,
    covers: DataFrame | None = None,
    skew_log=None,
    skew_stage: str | None = None,
    hot_threshold: float = 0.05,
) -> DataFrame:
    """points ⨝ polygons (containment): returns points columns + parcel_id.

    ``compact=True`` joins point ancestor chains against a compacted cover
    (smaller build side, multi-res); otherwise fixed-res equi-join.
    ``broadcast_cover`` hints the cover side broadcast (the common case:
    polygon dimension << points fact table). With it off, Catalyst picks a
    shuffle join and AQE handles skewed hot cells; passing ``hot_cells``
    additionally salts those cells explicitly (plans/skew.py).

    ``hot_cells="auto"`` makes the salting decision DATA-DRIVEN (VERDICT
    r04 #7): with ``skew_log``/``skew_stage`` the list comes from the
    lineage metrics table of a prior run whose stage is partitioned by cell
    id — a manifest-only read, no fact scan; otherwise from a cheap sampled
    aggregation over the points. Cells holding more than ``hot_threshold``
    of all points are salted. Auto resolves to NO salting on the compact
    path (multi-res keys don't salt) and on the broadcast path (VERDICT
    r05 #6: a broadcast join has no shuffle to skew — probe rows never
    move, so salting would only inflate the build side; the production
    entry query engages this decision path and provably keeps its plan)."""
    if covers is None:
        covers = parcel_covers(parcels, res=res, compact=compact)
    if broadcast_cover:
        covers = F.broadcast(covers)

    pts = points.withColumn("_cell", cell_of(F.col(lon), F.col(lat), res))
    if isinstance(hot_cells, str):
        if hot_cells != "auto":
            raise ValueError(f"hot_cells: list, None or 'auto', got {hot_cells!r}")
        from demeter_spark.plans import skew as skewmod

        if compact or broadcast_cover:
            hot_cells = None
        elif skew_log is not None and skew_stage is not None:
            hot_cells = skewmod.hot_cells_from_metrics(
                skew_log, skew_stage, hot_threshold
            )
        else:
            hot_cells = skewmod.detect_hot_cells(
                pts, threshold_ratio=hot_threshold, sample_fraction=0.05
            )
    if hot_cells and not compact:
        from demeter_spark.plans.skew import salted_cover_join

        cand = salted_cover_join(pts, covers, hot_cells, n_salt=n_salt)
    elif compact:
        res_min = 0
        pts = pts.withColumn(
            "_anc", ancestors_of(F.col("_cell"), res_min)
        ).withColumn("_jcell", F.explode("_anc")).drop("_anc")
        cand = pts.join(covers, pts["_jcell"] == covers["cell"], "inner").drop(
            "cell", "_jcell"
        )
    else:
        cand = pts.join(covers, pts["_cell"] == covers["cell"], "inner").drop("cell")

    # filter-refine fast path, single pass: candidates in fully-interior
    # cover cells are exact matches (no boundary can cross them); only
    # boundary-cell candidates run the vectorized PIP kernel. One boolean
    # arrow_udf — the upstream join executes once (no branch-and-union
    # recompute) and wide row payloads (urls, html) never cross the Arrow
    # boundary. Geometry arrives as the cover's list<double> column (NULL on
    # interior rows), read as one flat values buffer plus offsets — no
    # per-row object is built, and no driver materialization of the polygon
    # dimension exists in this pipeline at any scale.
    @F.arrow_udf(BooleanType())
    def _keep(
        plon: pa.Array, plat: pa.Array, pid: pa.Array, pcell: pa.Array,
        full: pa.Array, rings: pa.Array,
    ) -> pa.Array:
        ok = np.array(full.to_numpy(zero_copy_only=False), dtype=bool)
        offs = rings.offsets.to_numpy()
        need = (
            ~ok
            & rings.is_valid().to_numpy(zero_copy_only=False)
            & (offs[1:] > offs[:-1])
        )
        if need.any():
            ok[need] = geom.points_in_packed_grouped(
                plon.to_numpy(zero_copy_only=False)[need],
                plat.to_numpy(zero_copy_only=False)[need],
                pid.to_numpy(zero_copy_only=False)[need],
                rings.values.to_numpy(zero_copy_only=False),
                pcell.to_numpy(zero_copy_only=False)[need],
                starts=offs[:-1][need],
            )
        return pa.array(ok)

    return cand.filter(
        _keep(
            F.col(lon), F.col(lat), F.col("parcel_id"), F.col("_cell"),
            F.col("full"), F.col("rings"),
        )
    ).drop("_cell", "full", "rings")


def _knn_map_only(
    points: DataFrame,
    sites: DataFrame,
    k: int,
    id_col: str,
    site_id: str,
) -> DataFrame:
    """Exact kNN as ONE map-only pass: the site dimension (already small
    enough that the ring path broadcasts it wholesale) is shipped to tasks
    as numpy arrays and each point's top-k is computed in a vectorized
    kernel — zero Exchange, zero Window, one job, versus the ring path's
    per-level window shuffle + cache + count + checkpoint (r07: at bench
    shape the lattice machinery was pure fixed overhead, ~2.6 s for 5k
    points against a 200-row gazetteer).

    Ordering/values are bit-identical to the ring path: dist =
    sqrt(dx*dx + dy*dy) in IEEE float64 with the same operation order, ties
    broken by ascending site id via a stable argsort over sid-sorted
    columns. Requires unique point ids (the same contract the window
    partitioning already implied)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    spark = points.sparkSession
    # dimension-sized collect (same memory class as the ring path's
    # unconditional F.broadcast(site_cells)); sorted by sid so stable
    # argsort on distance alone realizes (dist asc, sid asc)
    rows = sites.select(site_id, "lon", "lat").collect()
    rows.sort(key=lambda r: r[0])
    sid_arr = np.asarray([r[0] for r in rows])
    slon = np.asarray([r[1] for r in rows], dtype=np.float64)
    slat = np.asarray([r[2] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((sid_arr, slon, slat))
    n_sites = len(rows)
    kk = min(k, n_sites)

    out_schema = StructType(
        [
            StructField(id_col, points.schema[id_col].dataType),
            StructField(site_id, sites.schema[site_id].dataType),
            StructField("rank", IntegerType()),
            StructField("dist", DoubleType()),
        ]
    )

    def _topk(batches):
        sid, lon_s, lat_s = bc.value
        if len(sid) == 0:
            return
        # bound the P x S distance matrix per chunk (~32 MB of float64)
        chunk = max(1, (1 << 22) // max(len(sid), 1))
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            plon = pdf["_plon"].to_numpy(dtype=np.float64)
            plat = pdf["_plat"].to_numpy(dtype=np.float64)
            for lo in range(0, len(ids), chunk):
                hi = lo + chunk
                dx = plon[lo:hi, None] - lon_s[None, :]
                dy = plat[lo:hi, None] - lat_s[None, :]
                d = np.sqrt(dx * dx + dy * dy)
                # stable sort: equal distances keep column (= sid) order
                idx = np.argsort(d, axis=1, kind="stable")[:, :kk]
                p = idx.shape[0]
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(ids[lo:hi], kk),
                        site_id: sid[idx.ravel()],
                        "rank": np.tile(
                            np.arange(1, kk + 1, dtype=np.int32), p
                        ),
                        "dist": np.take_along_axis(d, idx, axis=1).ravel(),
                    }
                )

    return points.select(
        id_col, F.col("lon").alias("_plon"), F.col("lat").alias("_plat")
    ).mapInPandas(_topk, out_schema)


def knn_join(
    points: DataFrame,
    sites: DataFrame,
    k: int,
    res: int = 9,
    id_col: str = "url",
    site_id: str = "place_id",
    max_ring: int = 64,
    start_ring: int | str = "auto",
    brute_threshold: int = 10_000,
    release_caches: bool = True,
    map_only_sites: int = 20_000,
) -> DataFrame:
    """k nearest ``sites`` per point via k-ring expansion (north_rule J12).

    True iterative doubling: at ring radius r, a point is *resolved* when it
    has >= k candidates with distance strictly < r * lat_cell_size (every
    site outside the ring is strictly farther than that bound, so the top-k
    cannot change — strict to be safe under distance ties at the bound).
    Unresolved points escalate to 2r, up to ``max_ring``; only points still
    unresolved at max_ring fall back to an exact scan, so the crossJoin never
    touches more than the deep-sparse-region stragglers. Final top-k via
    window rank. Distances are planar-degree Euclidean (documented engine
    semantics; synthetic world is planar).

    ``start_ring="auto"`` sizes the first ring from the site density so the
    TYPICAL point resolves in one level: the kth-neighbor distance in a
    Poisson field of intensity rho is ~sqrt(k / (pi*rho)); the ring must
    exceed it (resolution requires kth strictly inside r*lat_sz), so r0 =
    4x that estimate (the margin covers the distance tail — undershooting
    costs a whole extra level+shuffle, overshooting only extra candidates
    in one level). One O(|sites|) aggregate on the dimension pays for it.

    Caching contract: each doubling level persists its (small, <= k+1 rows
    per frontier point) top-k so the termination probe, next frontier and
    final union read each level exactly once. With ``release_caches`` (the
    default) the final union is materialized through the caches into a
    localCheckpoint (executor block storage, released by GC with the
    returned DataFrame) and every level cache is unpersisted before
    returning — a long-lived session issuing many kNN queries accumulates
    nothing in the SQL cache manager. Pass False to get the lazy plan plus
    live caches (caller owns cleanup).
    """
    from pyspark.sql import Window

    from demeter_spark.functions.spark_udfs import kring_of

    # map-only fast path (r07): the ring path below broadcasts the WHOLE
    # site dimension anyway (site_cells), so whenever that dimension is
    # small enough to also live as per-task numpy arrays, the lattice
    # levels buy nothing — the exact top-k is one vectorized map pass with
    # identical ordering and bit-identical distances. The count probe is a
    # dimension-sized job; pass map_only_sites=0 to force the ring path
    # (property tests pin both paths equal).
    if map_only_sites and sites.count() <= map_only_sites:
        return _knn_map_only(points, sites, k, id_col, site_id)

    lat_sz = 180.0 / (1 << res)
    site_cells = F.broadcast(
        sites.withColumn("_scell", cell_of(F.col("lon"), F.col("lat"), res)).select(
            F.col(site_id).alias("_sid"),
            F.col("lon").alias("_slon"),
            F.col("lat").alias("_slat"),
            "_scell",
        )
    )
    pts = points.select(
        id_col, F.col("lon").alias("_plon"), F.col("lat").alias("_plat")
    ).withColumn("_pcell", cell_of(F.col("_plon"), F.col("_plat"), res))

    # products, not pow(): Math.pow is only 1-ulp-accurate, products are
    # exact IEEE ops — keeps distances bit-identical to the SQL oracle
    dx = F.col("_plon") - F.col("_slon")
    dy = F.col("_plat") - F.col("_slat")
    dist = F.sqrt(dx * dx + dy * dy)
    # nulls LAST: the sentinel row (no site) must rank after real candidates
    w = Window.partitionBy(id_col).orderBy(
        F.asc_nulls_last("_dist"), F.asc_nulls_last("_sid")
    )
    final_cols = [
        F.col(id_col),
        F.col("_sid").alias(site_id),
        F.col("_rk").alias("rank"),
        F.col("_dist").alias("dist"),
    ]

    wp = Window.partitionBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    resolved_parts: list[DataFrame] = []
    level_caches: list[DataFrame] = []
    remaining = pts
    if start_ring == "auto":
        import math

        st_ = sites.agg(
            F.count("*"), F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
        ).first()
        area = max((st_[2] - st_[1]) * (st_[4] - st_[3]), 1e-9)
        rho = max(st_[0] / area, 1e-12)
        # margin x4 over the Poisson kth-distance estimate: the cost of
        # undershooting is a whole extra level (join + window shuffle +
        # count), while overshooting only widens one level's candidate set
        # (measured: start 4 ~= start 8 << start 2 on the sf0.1 fixture)
        start_ring = math.ceil(
            4.0 * math.sqrt((k + 1) / (math.pi * rho)) / lat_sz
        )
    r = max(1, min(int(start_ring), max_ring))
    while True:
        # array_distinct: kring clamps at the lat poles by repeating the
        # center cell — dedup per-point JVM-side (no shuffle) so a site can
        # never appear twice among one point's candidates. LEFT join keeps
        # zero-candidate points visible (they must escalate too). The
        # resolution test (count + kth distance) rides the SAME window
        # partitioning as the rank — one shuffle per level. Each level's
        # top-k is persisted (<= k narrow rows per frontier point), so
        # candidate generation per level runs exactly once: the termination
        # probe, the next frontier and the final union all read the cache.
        # each point explodes its ring cells PLUS one NULL sentinel cell;
        # after the (map-side, broadcast) left join, unmatched *ring* rows
        # are dropped and the sentinel survives — exactly one null row per
        # zero/short-candidate point reaches the window shuffle, so every
        # frontier point stays visible at matches + 1 rows, not (2r+1)^2
        ranked = (
            remaining.withColumn(
                "_ring",
                F.explode(
                    F.concat(
                        F.array_distinct(kring_of(F.col("_pcell"), r)),
                        F.array(F.lit(None).cast("long")),
                    )
                ),
            )
            .join(site_cells, F.col("_ring") == F.col("_scell"), "left")
            .filter(F.col("_sid").isNotNull() | F.col("_ring").isNull())
            .withColumn("_dist", dist)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .withColumn("_nk", F.count("_sid").over(wp))
            .withColumn("_kth", F.max("_dist").over(wp))
            .persist()
        )
        level_caches.append(ranked)
        # resolved iff the kth candidate is strictly inside the ring's
        # guaranteed-exclusion radius (strict: a site just outside the ring
        # is strictly farther than r*lat_sz, so ties at the bound are safe)
        ok = (F.col("_nk") == k) & (F.col("_kth") < r * lat_sz)
        resolved_parts.append(ranked.filter(ok).select(*final_cols))
        # next frontier = the unresolved residue, read straight off the
        # level cache (the sentinel guarantees every frontier point has a
        # row there) — no join back against the full point table, so the
        # source is scanned exactly once no matter how many levels run
        remaining = (
            ranked.filter(~ok)
            .select(id_col, "_plon", "_plat", "_pcell")
            .dropDuplicates([id_col])
        )
        if r >= max_ring:
            break
        n_left = remaining.count()  # cheap: reads the level cache
        if n_left == 0:
            remaining = None
            break
        if n_left <= brute_threshold:
            # the residue is small enough that an exact scan against the
            # (broadcast) site table is cheaper than more doubling rounds —
            # the crossJoin is bounded by brute_threshold * |sites per task|
            break
        r = min(r * 2, max_ring)

    if remaining is not None and not remaining.isEmpty():
        # stragglers past max_ring (deep sparse regions / k > total sites in
        # any ring): exact scan, bounded to this residue only
        rest_ranked = (
            remaining.crossJoin(site_cells)
            .withColumn("_dist", dist)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
        )
        resolved_parts.append(rest_ranked.select(*final_cols))

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    if release_caches:
        # materialize the (narrow, k-rows-per-point) result THROUGH the level
        # caches into executor block storage, then drop every level cache:
        # the SQL cache manager is empty when this returns, and the
        # checkpoint blocks die with the returned DataFrame's GC
        out = out.localCheckpoint(eager=True)
        for c in level_caches:
            c.unpersist()
    return out
