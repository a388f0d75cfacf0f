"""The repository's benchmark: one seeded workload, end to end.

    python3 perfbench/run.py --workload geo_broadcast --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process runs Spark at
``local[nproc]`` as a closed loop with one client: each iteration starts when
the previous one has returned. Set-up (session start, input generation and
materialization, the warm-up iterations) is off the clock and reported as
``setup_s``; input generation runs several times and its median counts.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations (their median difference is the tracing
overhead), then makes the isolated layer calls, and reports the per-layer
metrics; its spans go to ``.perfbench/trace-<workload>-seed<seed>.json``.

Every iteration's output is checked after the clock stops. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
(iterations that raised or failed a check) and ``metrics``. The exit code is
0 when every check passed, 1 when one failed and 2 when the library is not
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_ITERS = 3
# warm-up iterations, off the clock and counted in setup_s: on the reference
# host webtext_curate ran 19.4, 8.9, 8.1, then 6.1-7.3 s per iteration, so
# the JIT is warm from the fourth iteration on
WARMUP_ITERS = 3
MIN_TRACED_ITERS = 1
PREP_REPEATS = 3
DRIVER_MEM = "2g"

#: end-to-end metrics (untraced run) and their units
END_TO_END = {
    "setup_s": "s",
    "job_s_p50": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics (traced run) and their units; a layer that does not
#: run on a workload reports 0
PER_LAYER = {
    "sources.scan_s": "s",
    "spark_udfs.cell_of_s": "s",
    "geom.pip_pts_per_s": "pts/s",
    "joins.cover_s": "s",
    "joins.cover_rows": "count",
    "joins.cover_boundary_frac": "ratio",
    "joins.join_refine_s": "s",
    "joins.candidates": "count",
    "joins.accept_frac": "ratio",
    "joins.join_shuffle_write_mb": "MB",
    "joins.refine_shuffle_write_mb": "MB",
    "tilepyramid.pyramid_s": "s",
    "tilepyramid.tiles": "count",
    "joins.salted_join_s": "s",
    "joins.salted_max_task_s": "s",
    "joins.salted_task_skew": "ratio",
    "lineage.write_s": "s",
    "lineage.resume_s": "s",
    "lineage.parts_written": "count",
    "lineage.files_written": "count",
    "lineage.bytes_written_mb": "MB",
    "skew.decide_s": "s",
    "skew.hot_cells": "count",
    "skew.hot_share": "ratio",
    "textstats.signals_s": "s",
    "textstats.lm_s": "s",
    "textstats.winnow_s": "s",
    "dedup.segment_s": "s",
    "dedup.minhash_s": "s",
    "dedup.components_s": "s",
    "dedup.containment_s": "s",
    "dedup.minhash_pairs": "count",
    "dedup.containment_pairs": "count",
    "dedup.minhash_precision": "ratio",
    "dedup.minhash_recall": "ratio",
    "curation.keep_frac": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.max_task_s": "s",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",
    "spark.exec_run_s": "s",
    "arrow.to_python_mb": "MB",
    "arrow.from_python_mb": "MB",
    "python.run_s": "s",
    "python.start_init_s": "s",
    "trace.job_s_p50": "s",
    "trace.overhead_s": "s",
}

TIMED_GROUP = "perfbench-timed"
CHECK_GROUP = "perfbench-check"
SETUP_GROUP = "perfbench-setup"


def parse_args(argv: list[str] | None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path) -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    let the Python workers import the library."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed driver heap, well above what the workloads hold: the JVM's
    # peak RSS then depends on the work, not on how far G1 chose to grow an
    # 8 GB heap (it varied by 25% between runs), and the run stays small on
    # a shared host
    os.environ["DEMETER_DRIVER_MEM"] = DRIVER_MEM
    # status-store retention well above what one run produces, so no job
    # of a span is evicted before it is read
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def start_spark(cpus: int):
    from demeter_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []  # one per failed iteration
        self.problems: list[str] = []  # failed input-property or layer checks
        self.iterations = 0
        self.timed_iterations = 0
        self.extra: dict = {}
        self.spans: list[dict] = []
        from perfbench.trace import NullTracer

        self.null_tracer = NullTracer()

    def _iterate(self, wl, status, proc, tracer) -> tuple[float, float, dict | None]:
        """One iteration (timed) and its check (not timed)."""
        it = self.iterations
        self.iterations += 1
        status.set_group(TIMED_GROUP)
        cpu0 = proc.cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = wl.iteration(self.null_tracer)
            else:
                tracer.iteration = f"it{it}"
                with tracer.span("iteration"):
                    out = wl.iteration(tracer)
            problems = []
        except Exception:
            out, problems = None, [traceback.format_exc()]
        dt = time.perf_counter() - t0
        cpu = proc.cpu_s() - cpu0
        status.set_group(CHECK_GROUP)
        if out is not None:
            try:
                problems = wl.check(out)
            except Exception:
                problems = [traceback.format_exc()]
        self.attempted += 1
        if problems:
            self.failures.append(f"iteration {it}: " + "; ".join(problems))
            for p in problems:
                print(f"perfbench: CHECK FAILED iteration {it}: {p}", file=sys.stderr)
            out = None
        return dt, cpu, out

    def run(self) -> tuple[dict, dict]:
        from perfbench.probes import ProcTree, SparkStatus, host_cpu_s
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        load_start = os.getloadavg()
        cpus = nproc()
        t0 = time.perf_counter()
        spark = start_spark(cpus)
        session_s = time.perf_counter() - t0
        try:
            status = SparkStatus(spark)
            status.set_group(SETUP_GROUP)
            proc = ProcTree(int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))
            wl = WORKLOADS[args.workload](spark, str(self.work), args.seed)
            prep = []
            for _ in range(PREP_REPEATS):
                t0 = time.perf_counter()
                wl.prepare()
                prep.append(time.perf_counter() - t0)
            warm_s = sum(self._iterate(wl, status, proc, None)[0] for _ in range(WARMUP_ITERS))
            setup_s = session_s + median(prep) + warm_s
            self.problems += [f"input property {p}" for p in wl.property_problems()]

            if args.trace:
                metrics = self._traced(wl, status, proc, Tracer(status, SETUP_GROUP))
            else:
                times, cpu = [], []
                host0 = host_cpu_s()
                while len(times) < MIN_ITERS or sum(times) < args.seconds:
                    dt, c, out = self._iterate(wl, status, proc, None)
                    if out is not None:
                        times.append(dt)
                        cpu.append(c)
                    elif len(self.failures) > MIN_ITERS:
                        break
                host = {k: v - host0[k] for k, v in host_cpu_s().items()}
                rss = proc.peak_rss_parts()
                metrics = {
                    "setup_s": setup_s,
                    "job_s_p50": median(times),
                    "rows_per_s": wl.input_rows() * len(times) / max(sum(times), 1e-9),
                    "cpu_s": median(cpu),
                    "peak_rss_mb": rss["driver_mb"] + rss["jvm_mb"] + rss["workers_mb"],
                }
                self.timed_iterations = len(times)
                self.extra = {
                    "iteration_s": times, "cpu_iteration_s": cpu, "peak_rss": rss,
                    "host_cpu_s_during_loop": host,
                }
            disclosure = {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "nproc": cpus,
                "master": f"local[{cpus}]",
                "load_avg_start": [round(x, 2) for x in load_start],
                "load_avg_end": [round(x, 2) for x in os.getloadavg()],
                "spark": spark.version,
                "pyarrow": _version("pyarrow"),
                "numpy": _version("numpy"),
                "python": sys.version.split()[0],
                "sizes": wl.sizes(),
                "input_properties": {k: round(v, 4) for k, v in wl.measured.items()},
                "iterations": self.attempted,
                "session_s": session_s,
                "prep_s": prep,
                "warmup_s": warm_s,
                **self.extra,
            }
        finally:
            stop_spark(spark)
        return metrics, disclosure

    def _traced(self, wl, status, proc, tracer) -> dict:
        from perfbench.probes import SPARK_KEYS
        from perfbench.workloads import WORKLOADS

        untraced, traced, outs, iters = [], [], [], []
        while (
            len(traced) < MIN_TRACED_ITERS
            or len(untraced) < MIN_TRACED_ITERS
            or sum(traced) + sum(untraced) < self.args.seconds
        ):
            dt, _, out = self._iterate(wl, status, proc, None)
            if out is not None:
                untraced.append(dt)
            n_spans = len(tracer.spans)
            dt, _, out = self._iterate(wl, status, proc, tracer)
            tracer.collect_spark(tracer.spans[n_spans:])
            if out is not None:
                traced.append(dt)
                outs.append(out)
                iters.append(tracer.spans[n_spans])
            if len(self.failures) > MIN_ITERS:
                break
        # every workload's isolated layer calls, each on its own inputs, so
        # every per-layer metric is measured in every traced run (the other
        # workloads' calls run with their code paths still cold)
        n_spans = len(tracer.spans)
        tracer.iteration = "layers"
        status.set_group(SETUP_GROUP)
        layer_values: dict[str, float] = {}
        for name, cls in WORKLOADS.items():
            with tracer.span(f"layers:{name}"):
                if name == wl.name:
                    own = wl
                else:
                    own = cls(wl.spark, os.path.join(wl.work, name), wl.seed)
                    with tracer.span("setup:inputs"):
                        own.prepare()
                layer_values.update(own.layers(tracer))
            self.problems += own.layer_problems
        tracer.collect_spark(tracer.spans[n_spans:])

        m = dict.fromkeys(PER_LAYER, 0.0)
        incl = [tracer.inclusive_spark(sp) for sp in iters]
        for k in SPARK_KEYS:
            m[k] = median([d.get(k, 0.0) for d in incl])
        join_ops = [s for sp in iters for s in tracer.find("op:join", sp)]
        m["joins.join_shuffle_write_mb"] = median(
            [tracer.inclusive_spark(s).get("spark.shuffle_write_mb", 0.0) for s in join_ops]
        )
        for sp in tracer.find("joins.spatial_join.refine"):
            m["joins.refine_shuffle_write_mb"] = sp.spark["spark.shuffle_write_mb"]
        for sp in tracer.find("joins.spatial_join.salted"):
            m["joins.salted_max_task_s"] = sp.spark["spark.max_task_s"]
            m["joins.salted_task_skew"] = sp.spark["spark.task_skew"]
        if outs:
            m.update(wl.iteration_layers(outs))
        m.update(layer_values)
        m["trace.job_s_p50"] = median(traced)
        m["trace.overhead_s"] = median(traced) - median(untraced)
        self.timed_iterations = len(traced)
        self.spans = tracer.dump()
        return m


def _version(mod: str) -> str:
    return __import__(mod).__version__


def main(argv: list[str] | None = None) -> int:
    if not (ROOT / "demeter_spark" / "__init__.py").is_file():
        print(
            f"perfbench: the library (demeter_spark/) is not in {ROOT}; "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    out_dir = ROOT / ".perfbench"
    work = out_dir / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work)
    runner = Runner(args, work)
    try:
        metrics, disclosure = runner.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    failed = len(runner.failures)
    correct = failed == 0 and not runner.problems
    for p in runner.problems:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
    disclosure["failed_frac"] = failed / max(1, runner.attempted)
    disclosure["failures"] = runner.failures + runner.problems
    disclosure["metrics"] = metrics
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"result-{stem}.json").write_text(json.dumps(disclosure, indent=1))
    if args.trace:
        (out_dir / f"trace-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(runner.spans, indent=1)
        )

    print(
        "perfbench: "
        + " ".join(
            f"{k}={json.dumps(disclosure[k])}"
            for k in ("workload", "seed", "trace", "nproc", "load_avg_start", "load_avg_end",
                      "spark", "pyarrow", "numpy", "sizes", "input_properties")
        )
    )
    for k, unit in units.items():
        note = f" over {runner.timed_iterations} iterations" if k in ("job_s_p50", "trace.job_s_p50") else ""
        print(f"perfbench:   {k} = {metrics[k]:.6g} {unit}{note}")
    print(f"perfbench:   failed_frac = {disclosure['failed_frac']:.6g} ({failed} of {runner.attempted})")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
