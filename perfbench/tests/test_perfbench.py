"""Tests of the benchmark itself (run from the repository root):

    python3 -m pytest perfbench/tests -q

They check the independent references against the library at reduced
scale, that an untraced iteration issues exactly the Spark jobs of the
workload's own calls, the span arithmetic, the input generators and the
refusal to run outside a checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, oracle, probes, run, trace, workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.configure_env(tmp_path_factory.mktemp("perfbench"))
    s = run.start_spark(run.nproc())
    yield s
    run.stop_spark(s)


@pytest.fixture(scope="module")
def status(spark):
    return probes.SparkStatus(spark)


class SmallBroadcast(workloads.GeoBroadcast):
    N_PAGES = 2_000
    N_POINTS = 40_000
    N_FILES = 2


class SmallCurate(workloads.WebtextCurate):
    N_DOCS = 300
    N_FILES = 2


# ---------------------------------------------------------------- references


def test_ray_casting_reference_matches_spatial_join(spark, tmp_path):
    """The numpy even-odd reference agrees with the library's join and
    pyramid at reduced scale, for two seeds."""
    for seed in (1, 2):
        wl = SmallBroadcast(spark, str(tmp_path / str(seed)), seed)
        wl.prepare()
        out = wl.iteration(trace.NullTracer())
        assert out["join"][0] > 1000
        assert wl.check(out) == []
        assert out == wl.reference()


def test_ray_casting_handles_holes():
    outer = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    got = oracle.points_in_polygon(
        np.array([0.5, 1.5, 3.0, 5.0]), np.array([0.5, 1.5, 3.0, 1.0]), [outer, hole]
    )
    assert got.tolist() == [True, False, True, False]


def test_checksum_matches_spark_expression(spark):
    ids = np.arange(1000, dtype=np.int64) * 7 + 3
    parts = ids % 13
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(ids, parts)], "pid BIGINT, parcel_id BIGINT"
    )
    assert workloads.fingerprint(df, ["pid", "parcel_id"]) == (
        1000, oracle.checksum(ids, parts)
    )


def test_minhash_and_clusters_match_exact_jaccard(spark, tmp_path):
    """MinHash precision and recall are 1.0 against dedup.jaccard_pairs at
    t = 0.8, and both equal the independent prefix-filter join; curate's
    clusters equal its components; planted containment pairs are found."""
    from demeter_spark.operators import dedup

    wl = SmallCurate(spark, str(tmp_path), 3)
    wl.prepare()
    docs = spark.read.parquet(wl.path)
    pairs = lambda df: {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}  # noqa: E731
    mh = pairs(dedup.minhash_lsh_pairs(docs, 0.8))
    exact = pairs(dedup.jaccard_pairs(docs, 0.8))
    assert mh == exact == wl.reference()["exact_pairs"]
    out = wl.iteration(trace.NullTracer())
    assert wl.check(out) == []


def test_ingest_layer_calls_pass_their_checks(spark, status, tmp_path):
    """Lineage write, resume, hot-cell decision and salted shuffle join on a
    small increment: resume writes nothing, the manifest adds up, and the
    salted join equals the broadcast join and the ray-casting reference."""
    wl = SmallBroadcast(spark, str(tmp_path), 7)
    wl.prepare()
    t = trace.Tracer(status, "idle")
    v, problems = workloads.ingest_layers(t, spark, str(tmp_path), wl.table, "seed7")
    assert problems == []
    assert v["lineage.parts_written"] > 10 and v["skew.hot_cells"] >= 1
    assert 0.25 < v["skew.hot_share"] < 0.45


# ------------------------------------------------------------- zero cost off


def test_untraced_iteration_adds_no_spark_jobs(spark, status, tmp_path):
    """The timed wall of an untraced run holds exactly the jobs of the
    workload's own calls: no hidden actions, status reads or checks."""
    from demeter_spark.operators import joins
    from demeter_spark.operators import tilepyramid as tp

    wl = SmallBroadcast(spark, str(tmp_path), 5)
    wl.prepare()
    args = type("A", (), {"seconds": 0.0, "trace": 0})()
    runner = run.Runner(args, tmp_path)
    proc = probes.ProcTree(os.getpid())
    runner._iterate(wl, status, proc, None)  # warm-up, as in a run
    n_before = len(status.job_ids(run.TIMED_GROUP))
    for _ in range(2):
        assert runner._iterate(wl, status, proc, None)[2] is not None
    status.drain()
    timed = len(status.job_ids(run.TIMED_GROUP)) - n_before

    status.set_group("bare-calls")
    for _ in range(2):
        pts = spark.read.parquet(wl.path)
        workloads.fingerprint(joins.spatial_join(pts, wl.parcels, res=wl.RES), ["pid", "parcel_id"])
        workloads.fingerprint(
            tp.tile_pyramid(pts, res_max=wl.PYRAMID_RES), ["res", "ix", "iy", "n_points"]
        )
    status.drain()
    assert timed == len(status.job_ids("bare-calls")) > 0


def test_traced_spans_carry_parents_and_spark_numbers(spark, status, tmp_path):
    wl = SmallBroadcast(spark, str(tmp_path), 6)
    wl.prepare()
    t = trace.Tracer(status, "idle")
    t.iteration = "it0"
    with t.span("iteration"):
        wl.iteration(t)
    t.collect_spark(t.spans)
    by_name = {s.name: s for s in t.spans}
    assert by_name["op:join"].parent == by_name["iteration"].id
    assert by_name["joins.spatial_join"].parent == by_name["op:join"].id
    sinks = [s for s in t.spans if s.name == "sink"]
    assert all(s.spark["spark.jobs"] >= 1 for s in sinks)
    join = t.inclusive_spark(by_name["op:join"])
    assert join["spark.jobs"] >= 1 and join["arrow.to_python_mb"] > 0
    # the point side of the broadcast join shuffles nothing: only the
    # 80-row polygon dimension is repartitioned before the cover kernel
    assert join["spark.shuffle_write_mb"] < 1.0
    dump = t.dump()
    assert {d["iteration"] for d in dump} == {"it0"}
    assert all(d["self_s"] <= d["end_s"] - d["start_s"] + 1e-9 for d in dump)


# ---------------------------------------------------------------- unit level


class _FakeStatus:
    def __init__(self):
        self.groups = []

    def set_group(self, g):
        self.groups.append(g)


def test_self_time_subtracts_children():
    t = trace.Tracer(_FakeStatus(), "idle")
    with t.span("parent") as p:
        time.sleep(0.02)
        with t.span("child"):
            time.sleep(0.05)
        with t.span("child"):
            time.sleep(0.03)
    kids = t.children(p)
    assert len(kids) == 2
    assert t.self_time(p) == pytest.approx(p.duration - sum(k.duration for k in kids))
    assert 0.015 < t.self_time(p) < p.duration - 0.07
    # each span ran under its own job group, restoring the parent's after
    s = t.status.groups
    assert s[0] == p.group and s[-1] == "idle" and s[2] == p.group


def test_sql_metric_parsing_and_exchange_count():
    multi = "total (min, med, max (stageId: taskId))\n3.1 MiB (781.4 KiB, 781.4 KiB, 781.4 KiB (stage 0.0: task 1))"
    assert probes.parse_sql_metric(multi, "size") == pytest.approx(3.1)
    assert probes.parse_sql_metric("852 ms", "timing") == pytest.approx(0.852)
    assert probes.parse_sql_metric("total (min, med, max)\n1.5 m (1 ms)", "timing") == 90.0
    plan = (
        "AdaptiveSparkPlan (9)\n+- == Final Plan ==\n   ResultQueryStage (5)\n"
        "   :- ShuffleQueryStage (2)\n   :  +- Exchange (1)\n"
        "   +- BroadcastQueryStage (4)\n      +- BroadcastExchange (3)\n"
        "+- == Initial Plan ==\n   +- Exchange (7)\n\n(1) Exchange\n"
    )
    assert probes.count_exchanges(plan) == 1


def test_proc_tree_reads_this_process():
    pt = probes.ProcTree(os.getpid())
    assert os.getpid() in pt.tree()
    assert pt.cpu_s() > 0 and pt.peak_rss_parts()["jvm_mb"] > 10


def test_corpus_is_seeded_and_plants_what_it_declares():
    a, truth = inputs.corpus(400, 9)
    b, _ = inputs.corpus(400, 9)
    c, _ = inputs.corpus(400, 10)
    assert a.equals(b) and not a.equals(c)
    texts = dict(zip(a.column("doc_id").to_pylist(), a.column("text").to_pylist()))
    for short, host in truth["embedded"]:
        assert texts[short] in texts[host]
    exact = oracle.jaccard_pairs(list(texts), list(texts.values()), 0.8)
    for g in truth["groups"]:
        assert all((x, y) in exact for i, x in enumerate(g) for y in g[i + 1:])
    assert inputs.long_doc_share(list(texts.values())) == pytest.approx(0.03, abs=0.01)


def test_jaccard_prefix_filter_equals_brute_force():
    tab, _ = inputs.corpus(200, 4)
    ids, texts = tab.column("doc_id").to_pylist(), tab.column("text").to_pylist()
    sets = [oracle.shingle_set(x) for x in texts]
    brute = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i]) + len(sets[j]) - inter
            if union and inter / union >= 0.8:
                brute.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    assert oracle.jaccard_pairs(ids, texts, 0.8) == brute


# ---------------------------------------------------------------- command


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails fast and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = json.loads((ROOT / "BENCHMARK.json").read_text())["command"]
    r = subprocess.run(
        [*cmd, "--workload", "geo_broadcast", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def test_benchmark_json_lists_what_run_reports():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
