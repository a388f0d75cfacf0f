"""The workloads: inputs, one timed iteration, output checks, and the
isolated layer calls of the traced run.

Every iteration ends in a sink that returns ``(rows, checksum)`` of the
result (one aggregate or one Arrow pull, the action the workload needs
anyway), so the checks after the clock stops compare two pairs of numbers
and add no Spark job to the timed wall.

Sizes are fixed per workload (not per seed) and chosen so a run fits the
benchmark's time limits; NOTES.md records the measurements behind them.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from perfbench import inputs, oracle

P = oracle.CHECK_P


def fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """(rows, order-independent checksum) of ``df`` in one aggregate job."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.expr(oracle.checksum_expr(cols))), F.lit(0)).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    declared: dict = {}

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.measured: dict[str, float] = {}
        # failed checks of the traced run's layer calls
        self.layer_problems: list[str] = []

    def _fresh(self, sub: str) -> str:
        path = os.path.join(self.work, sub)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # interface -------------------------------------------------------------
    def prepare(self) -> None:
        """Generate and materialize the inputs for ``self.seed``."""
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def sizes(self) -> dict[str, int]:
        raise NotImplementedError

    def iteration(self, t) -> dict:
        """One closed-loop iteration; ``t`` opens spans (a no-op untraced)."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Problems with one iteration's output (empty when correct). Runs
        after the clock stops; may run Spark jobs under its own group."""
        raise NotImplementedError

    def layers(self, t) -> dict[str, float]:
        """Isolated calls into the layers this workload exercises, on its own
        inputs (traced runs only): per-layer values."""
        raise NotImplementedError

    def iteration_layers(self, outs: list[dict]) -> dict[str, float]:
        """Per-layer values read off the traced iterations' own outputs."""
        return {}

    def property_problems(self) -> list[str]:
        return inputs.check_properties(self.measured, self.declared)


def _timed(t, name: str, fn):
    """``fn()`` inside span ``name``: (its value, its wall seconds)."""
    with t.span(name):
        start = time.perf_counter()
        value = fn()
        elapsed = time.perf_counter() - start
    return value, elapsed


# --------------------------------------------------------------------------
# geo_broadcast
# --------------------------------------------------------------------------

PIP_SAMPLE_MOD = 8  # the PIP sample: boundary candidates with pid % 8 == 0


def join_layers(t, pts, parcels, res: int, out_rows: int) -> dict:
    """Isolated calls into the broadcast join's layers."""
    from demeter_spark.functions import geom
    from demeter_spark.functions.spark_udfs import cell_of
    from demeter_spark.operators import joins

    v: dict[str, float] = {}
    _, v["sources.scan_s"] = _timed(t, "sources.scan", lambda: noop(pts))
    _, v["spark_udfs.cell_of_s"] = _timed(
        t, "spark_udfs.cell_of",
        lambda: noop(pts.withColumn("_cell", cell_of(F.col("lon"), F.col("lat"), res))),
    )
    _, v["joins.cover_s"] = _timed(
        t, "joins.parcel_covers", lambda: noop(joins.parcel_covers(parcels, res=res))
    )
    with t.span("setup:covers"):
        covers = joins.parcel_covers(parcels, res=res).localCheckpoint(eager=True)
        c = covers.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.when(~F.col("full"), 1).otherwise(0)).alias("b")
        ).first()
        v["joins.cover_rows"] = float(c["n"])
        v["joins.cover_boundary_frac"] = c["b"] / max(1, c["n"])
        cand = pts.withColumn("_cell", cell_of(F.col("lon"), F.col("lat"), res)).join(
            F.broadcast(covers), F.col("_cell") == F.col("cell")
        )
        v["joins.candidates"] = float(cand.count())
        v["joins.accept_frac"] = out_rows / max(1.0, v["joins.candidates"])
    _, v["joins.join_refine_s"] = _timed(
        t, "joins.spatial_join.refine",
        lambda: noop(joins.spatial_join(pts, parcels, res=res, covers=covers)),
    )
    with t.span("setup:pip_sample"):
        tab = (
            cand.filter(~F.col("full") & (F.col("pid") % PIP_SAMPLE_MOD == 0))
            .select("lon", "lat", "parcel_id", "_cell", "rings")
            .toArrow()
        )
        rings = tab.column("rings").combine_chunks()
        flat = rings.values.to_numpy()
        offs = rings.offsets.to_numpy()
        packed = np.empty(len(tab), dtype=object)
        for i in range(len(tab)):
            packed[i] = flat[offs[i]:offs[i + 1]]
        px, py = tab.column("lon").to_numpy(), tab.column("lat").to_numpy()
        gid = tab.column("parcel_id").to_numpy()
        cells = tab.column("_cell").to_numpy()
    _, dt = _timed(
        t, "geom.points_in_packed_grouped",
        lambda: geom.points_in_packed_grouped(px, py, gid, packed, cells),
    )
    v["geom.pip_pts_per_s"] = len(tab) / dt if len(tab) else 0.0
    covers.unpersist()
    return v


def _points_np(table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return (
        table.column("pid").to_numpy(),
        table.column("lon").to_numpy(),
        table.column("lat").to_numpy(),
    )


def _polygons(parcels) -> list[tuple[int, str]]:
    tab = parcels.select("parcel_id", "geom_wkt").toArrow()
    return list(zip(tab.column("parcel_id").to_pylist(), tab.column("geom_wkt").to_pylist()))


class GeoBroadcast(Workload):
    """Enrich-and-tile: points joined to 80 dense circle parcels on the
    broadcast cover path at res 10, then the tile pyramid over the points."""

    name = "geo_broadcast"
    declared = inputs.GEO_PROPS
    N_PAGES = 20_000
    N_POINTS = 1_000_000
    N_FILES = 8
    RES = inputs.JOIN_RES
    PYRAMID_RES = 12

    def prepare(self) -> None:
        from demeter_spark.sources import synth

        base = inputs.base_pages(self.spark, self._fresh("pages"), self.N_PAGES)
        self.table = inputs.replicate_points(base, self.N_POINTS, self.seed)
        self.path = inputs.write_parquet(self.table, self._fresh("points"), self.N_FILES)
        self.parcels = synth.circle_parcels(self.spark)
        self._ref = None

    def input_rows(self) -> int:
        return self.N_POINTS

    def sizes(self) -> dict[str, int]:
        return {"points": self.N_POINTS, "parcels": 80, "parcel_vertices": 128}

    def iteration(self, t) -> dict:
        from demeter_spark.operators import joins
        from demeter_spark.operators import tilepyramid as tp

        pts = self.spark.read.parquet(self.path)
        with t.span("op:join"):
            with t.span("joins.spatial_join"):
                joined = joins.spatial_join(pts, self.parcels, res=self.RES)
            with t.span("sink"):
                join = fingerprint(joined, ["pid", "parcel_id"])
        with t.span("op:pyramid"):
            with t.span("tilepyramid.tile_pyramid"):
                pyr = tp.tile_pyramid(pts, res_max=self.PYRAMID_RES)
            with t.span("sink"):
                pyramid = fingerprint(pyr, ["res", "ix", "iy", "n_points"])
        return {"join": join, "pyramid": pyramid}

    def reference(self) -> dict:
        if self._ref is None:
            pid, lon, lat = _points_np(self.table)
            self.measured = {
                "hot_cell_share": inputs.hot_cell_share(lon, lat),
                "boundary_candidate_share": inputs.boundary_candidate_share(lon, lat),
            }
            self._ref = {
                "join": oracle.join_reference(pid, lon, lat, _polygons(self.parcels)),
                "pyramid": oracle.pyramid_reference(lon, lat, self.PYRAMID_RES),
            }
        return self._ref

    def check(self, out: dict) -> list[str]:
        ref = self.reference()
        return [
            f"{k}: got {out[k]}, want {ref[k]}" for k in ("join", "pyramid") if out[k] != ref[k]
        ]

    def layers(self, t) -> dict[str, float]:
        from demeter_spark.operators import tilepyramid as tp

        pts = self.spark.read.parquet(self.path)
        v = join_layers(t, pts, self.parcels, self.RES, self.reference()["join"][0])
        _, v["tilepyramid.pyramid_s"] = _timed(
            t, "tilepyramid.tile_pyramid",
            lambda: fingerprint(tp.tile_pyramid(pts, res_max=self.PYRAMID_RES), ["res", "ix", "iy"]),
        )
        v["tilepyramid.tiles"] = float(self.reference()["pyramid"][0])
        ingest, problems = ingest_layers(
            t, self.spark, self.work, self.table, f"seed{self.seed}"
        )
        self.layer_problems += problems
        v.update(ingest)
        return v


# --------------------------------------------------------------------------
# write-then-join path (layer calls of the geo_broadcast traced run)
# --------------------------------------------------------------------------

INGEST_SAMPLE_MOD = 10  # the increment: points with pid % 10 == 0
INGEST_STAGE = "points_by_cell"
HOT_THRESHOLD = 0.2


def ingest_layers(t, spark, work: str, table, fingerprint_id: str) -> tuple[dict, list[str]]:
    """The lineage write, its resume, the manifest hot-cell decision and the
    salted shuffle join (auto-broadcast off) over a point increment, as
    isolated layer calls. Also checks them: the resume writes 0 partitions,
    the manifest counts sum to the rows written, and the salted join equals
    both the unsalted broadcast join on the same input and the numpy
    ray-casting reference."""
    from demeter_spark.functions.spark_udfs import cell_of
    from demeter_spark.operators import joins
    from demeter_spark.plans import skew
    from demeter_spark.plans.lineage import LineageLog
    from demeter_spark.sources import synth

    res = inputs.SKEW_RES
    inc = table.filter(pa.array(table.column("pid").to_numpy() % INGEST_SAMPLE_MOD == 0))
    path = inputs.write_parquet(inc, os.path.join(work, "increment"), 2)
    log_dir = os.path.join(work, "lineage")
    shutil.rmtree(log_dir, ignore_errors=True)
    log = LineageLog(spark, log_dir)
    parcels = synth.parcels(spark)
    df = spark.read.parquet(path).withColumn("_cell", cell_of(F.col("lon"), F.col("lat"), res))
    v: dict[str, float] = {}
    problems: list[str] = []
    parts, v["lineage.write_s"] = _timed(
        t, "lineage.write_increment", lambda: log.write_increment(INGEST_STAGE, df, "_cell", fingerprint_id)
    )
    resumed, v["lineage.resume_s"] = _timed(
        t, "lineage.write_increment.resume",
        lambda: log.write_increment(INGEST_STAGE, df, "_cell", fingerprint_id),
    )
    hot, v["skew.decide_s"] = _timed(
        t, "skew.hot_cells_from_metrics",
        lambda: skew.hot_cells_from_metrics(log, INGEST_STAGE, HOT_THRESHOLD),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted, v["joins.salted_join_s"] = _timed(
            t, "joins.spatial_join.salted",
            lambda: fingerprint(
                joins.spatial_join(
                    log.read_stage(INGEST_STAGE), parcels, res=res,
                    broadcast_cover=False, hot_cells=hot,
                ),
                ["pid", "parcel_id"],
            ),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    with t.span("check:ingest"):
        bcast = fingerprint(
            joins.spatial_join(log.read_stage(INGEST_STAGE), parcels, res=res),
            ["pid", "parcel_id"],
        )
        rows = log.metrics().filter(F.col("stage") == INGEST_STAGE).select("part", "n_rows").collect()
    pid, lon, lat = _points_np(inc)
    ref = oracle.join_reference(pid, lon, lat, _polygons(parcels))
    written = sum(r["n_rows"] for r in rows)
    hot_rows = sum(r["n_rows"] for r in rows if r["part"] in hot)
    v["lineage.parts_written"] = float(parts)
    files, size = _dir_usage(os.path.join(log_dir, INGEST_STAGE))
    v["lineage.files_written"] = float(files)
    v["lineage.bytes_written_mb"] = size / float(1 << 20)
    v["skew.hot_cells"] = float(len(hot))
    v["skew.hot_share"] = hot_rows / max(1, written)
    if resumed != 0:
        problems.append(f"resume wrote {resumed} partitions, want 0")
    if written != inc.num_rows or len(rows) != parts:
        problems.append(f"manifest holds {written} rows in {len(rows)} partitions, "
                        f"wrote {inc.num_rows} rows in {parts}")
    if not salted == bcast == ref:
        problems.append(f"salted join {salted}, broadcast join {bcast}, reference {ref}")
    shutil.rmtree(log_dir, ignore_errors=True)
    return v, problems


def _dir_usage(path: str) -> tuple[int, int]:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# --------------------------------------------------------------------------
# webtext_curate
# --------------------------------------------------------------------------

DECISION_COLS = (
    "doc_id", "keep", "split", "neardup_cluster", "keep_quality",
    "keep_repetition", "keep_lm", "pii_free", "n_dup_segs",
)


class WebtextCurate(Workload):
    """curation.curate followed by dedup.containment_pairs(…, 0.5)."""

    name = "webtext_curate"
    declared = inputs.TEXT_PROPS
    N_DOCS = 600
    N_FILES = 8
    CONTAINMENT = 0.5

    def prepare(self) -> None:
        self.table, self.truth = inputs.corpus(self.N_DOCS, self.seed)
        self.path = inputs.write_parquet(self.table, self._fresh("corpus"), self.N_FILES)
        self._ref = None
        self._first: dict | None = None

    def input_rows(self) -> int:
        return self.N_DOCS

    def sizes(self) -> dict[str, int]:
        return {"documents": self.N_DOCS}

    def iteration(self, t) -> dict:
        from demeter_spark.operators import curation, dedup

        docs = self.spark.read.parquet(self.path)
        with t.span("op:curate"):
            with t.span("curation.curate"):
                cur = curation.curate(docs)
            with t.span("sink"):
                r = cur.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("keep").alias("kept"),
                    F.sum(F.expr(oracle.checksum_expr(["doc_id", "neardup_cluster"]))).alias("c"),
                    F.sum(F.pmod(F.xxhash64(*DECISION_COLS), F.lit(P))).alias("d"),
                ).first()
        with t.span("op:containment"):
            with t.span("dedup.containment_pairs"):
                pairs = dedup.containment_pairs(docs, self.CONTAINMENT)
            with t.span("sink"):
                tab = pairs.select("doc_a", "doc_b").toArrow()
        a, b = tab.column("doc_a").to_numpy(), tab.column("doc_b").to_numpy()
        return {
            "rows": int(r["n"]), "kept": int(r["kept"]), "clusters": int(r["c"]),
            "decisions": int(r["d"]), "pairs": set(zip(a.tolist(), b.tolist())),
            "pairs_sum": oracle.checksum(a, b),
        }

    def reference(self) -> dict:
        if self._ref is None:
            ids = self.table.column("doc_id").to_pylist()
            texts = self.table.column("text").to_pylist()
            exact = oracle.jaccard_pairs(ids, texts, 0.8)
            cl = oracle.min_id_clusters(ids, exact)
            in_pair = {d for p in exact for d in p}
            self.measured = {
                "near_dup_share": len(in_pair) / len(ids),
                "long_doc_share": inputs.long_doc_share(texts),
            }
            planted = {
                (min(g[i], g[j]), max(g[i], g[j]))
                for g in self.truth["groups"] for i in range(len(g)) for j in range(i + 1, len(g))
            }
            self._ref = {
                "exact_pairs": exact,
                "clusters": oracle.checksum(np.array(list(cl)), np.array(list(cl.values()))),
                "missing_planted": sorted(planted - exact),
            }
        return self._ref

    def check(self, out: dict) -> list[str]:
        ref = self.reference()
        problems = []
        if ref["missing_planted"]:
            problems.append(f"planted near-dups below Jaccard 0.8: {ref['missing_planted'][:5]}")
        if out["rows"] != self.N_DOCS:
            problems.append(f"curate returned {out['rows']} rows for {self.N_DOCS} docs")
        if out["clusters"] != ref["clusters"]:
            problems.append("near-dup clusters differ from exact-Jaccard components")
        missing = [p for p in self.truth["embedded"] if p not in out["pairs"]]
        if missing:
            problems.append(f"planted containment pairs not found: {missing[:5]}")
        if self._first is None:
            self._first = out
        elif (out["decisions"], out["pairs_sum"], len(out["pairs"])) != (
            self._first["decisions"], self._first["pairs_sum"], len(self._first["pairs"])
        ):
            problems.append("output differs from the first iteration on the same input")
        return problems

    def iteration_layers(self, outs: list[dict]) -> dict[str, float]:
        last = outs[-1]
        return {"curation.keep_frac": last["kept"] / max(1, last["rows"])}

    def layers(self, t) -> dict[str, float]:
        from demeter_spark.operators import dedup, textstats

        docs = self.spark.read.parquet(self.path)
        v: dict[str, float] = {}
        _, v["sources.scan_s"] = _timed(t, "sources.scan", lambda: noop(docs))
        v["textstats.signals_s"] = sum(
            _timed(t, f"textstats.{fn.__name__}", lambda fn=fn: noop(fn(docs)))[1]
            for fn in (textstats.quality_flags, textstats.repetition_stats, textstats.pii_stats)
        )
        _, v["textstats.lm_s"] = _timed(
            t, "textstats.bigram_surprise", lambda: noop(textstats.bigram_surprise(docs))
        )
        _, v["textstats.winnow_s"] = _timed(
            t, "textstats.winnowing_fingerprints",
            lambda: noop(textstats.winnowing_fingerprints(docs, unique_per_doc=True)),
        )
        _, v["dedup.segment_s"] = _timed(
            t, "dedup.segment_dedup", lambda: noop(dedup.segment_dedup(docs))
        )
        tab, v["dedup.minhash_s"] = _timed(
            t, "dedup.minhash_lsh_pairs",
            lambda: dedup.minhash_lsh_pairs(docs, 0.8).select("doc_a", "doc_b").toArrow(),
        )
        mh = set(zip(tab.column("doc_a").to_pylist(), tab.column("doc_b").to_pylist()))
        v["dedup.minhash_pairs"] = float(len(mh))
        with t.span("setup:pairs"):
            pairs = self.spark.createDataFrame(tab.to_pandas())
            nodes = docs.select("doc_id")
        _, v["dedup.components_s"] = _timed(
            t, "dedup.connected_components",
            lambda: noop(dedup.connected_components(pairs, nodes)),
        )
        tab, v["dedup.containment_s"] = _timed(
            t, "dedup.containment_pairs",
            lambda: dedup.containment_pairs(docs, self.CONTAINMENT).select("doc_a").toArrow(),
        )
        v["dedup.containment_pairs"] = float(tab.num_rows)
        # MinHash precision and recall against the library's exact join
        with t.span("check:jaccard_pairs"):
            tab = dedup.jaccard_pairs(docs, 0.8).select("doc_a", "doc_b").toArrow()
        exact = set(zip(tab.column("doc_a").to_pylist(), tab.column("doc_b").to_pylist()))
        hit = len(mh & exact)
        v["dedup.minhash_precision"] = hit / max(1, len(mh))
        v["dedup.minhash_recall"] = hit / max(1, len(exact))
        if mh != exact:
            self.layer_problems.append(
                f"minhash pairs vs jaccard_pairs: precision {v['dedup.minhash_precision']:.4f}, "
                f"recall {v['dedup.minhash_recall']:.4f}"
            )
        return v


WORKLOADS = {w.name: w for w in (GeoBroadcast, WebtextCurate)}
