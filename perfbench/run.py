"""Seeded end-to-end benchmark of the geohash engine.

    python3 perfbench/run.py --workload geotag_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: geotag_join, tile_neighbors,
geofence_cover (see workloads.py and perfbench/NOTES.md).

One run sets up once, from cold (Spark session start, seeded input build and
cache, reference computation, and the first ``FIRST_ITERATIONS`` verified
iterations, which pay JIT and Python-worker start-up), lets the JIT settle
for ``SETTLE_SECONDS`` of further verified iterations, then runs the workload
in a closed loop, one iteration after another, for ``--seconds`` and checks
every result against the reference. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from a traced loop of ``--seconds`` that follows the untraced
one. Working files go under ``.perfbench_work/`` in the checkout.
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
from dataclasses import replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

# Set-up ends with this many iterations: the first pays JIT compilation and
# Python-worker start-up (geotag_join: 3.7 s against 1.2 s steady), the
# second still runs about a third slow.
FIRST_ITERATIONS = 2
# After set-up, verified but untimed iterations for this long. The JIT keeps
# speeding up the generated code for about fifteen seconds of iterations:
# after an 8 s settle, geotag_join still went from 1.3 s to 1.1 s per
# iteration within the timed loop. The settle is a fixed length of the
# benchmark's choosing, so it is not part of setup_s.
SETTLE_SECONDS = 14.0
# Fixed-size driver heap (-Xms = -Xmx), well inside a 15 GB host. A heap that
# grows on demand grows by a different amount in every run, which made the
# JVM's resident size swing by a tenth between runs of the same seed.
DRIVER_MEMORY = "2g"


class Tally:
    """Iterations attempted and failed (raised, or differed from the
    reference)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0


_RAISED = object()


def call(iterate):
    """One iteration; ``_RAISED`` if it raised."""
    try:
        return iterate()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return _RAISED


def check(got, expected, tally: Tally) -> bool:
    """Count one iteration; a raise or a wrong result counts as failed."""
    tally.attempted += 1
    if got is _RAISED:
        tally.failed += 1
        return False
    if got != expected:
        print(f"mismatch: got {str(got)[:300]} expected {str(expected)[:300]}",
              file=sys.stderr)
        tally.failed += 1
        return False
    return True


def run_checked(iterate, expected, tally: Tally) -> bool:
    """One iteration, verified."""
    return check(call(iterate), expected, tally)


def measure(iterate, expected, seconds: float, tally: Tally, sample,
            on_iteration=None):
    """Closed loop for ``seconds``: per-iteration wall seconds and process
    readings. The tree is walked (``sample()``) before and after each
    iteration; the driver's own CPU is read just around the engine call, so
    neither the walk nor the result check counts."""
    from perfbench.proctree import own_cpu_s

    walls, procs = [], []
    end = time.perf_counter() + seconds
    while True:
        if on_iteration is not None:
            on_iteration()
        p0 = sample()
        t0 = time.perf_counter()
        c0 = own_cpu_s()
        got = call(iterate)
        c1 = own_cpu_s()
        t1 = time.perf_counter()
        p1 = sample()
        check(got, expected, tally)
        procs.append(replace(p1 - p0, driver_cpu_s=c1 - c0))
        walls.append(t1 - t0)
        if t1 >= end:
            return walls, procs


def settle(iterate, expected, seconds: float, tally: Tally) -> None:
    """Verified, untimed iterations for ``seconds``."""
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        run_checked(iterate, expected, tally)


def new_session(work: str):
    from pyspark.sql import SparkSession

    from geohash_dotnet_spark.session import apply_recommended

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    builder = (SparkSession.builder.master(f"local[{cores}]")
               .appName("perfbench")
               .config("spark.driver.memory", DRIVER_MEMORY)
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               # Python workers import the package from the checkout
               .config("spark.executorEnv.PYTHONPATH", ROOT)
               .config("spark.local.dir", os.path.join(work, "local"))
               .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
               .config("spark.driver.extraJavaOptions",
                       f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}"))
    spark = apply_recommended(builder, shuffle_partitions=2 * cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active context, then the JVM, and wait for it to exit.
    Safe to call when nothing was started."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Setup:
    """The set-up, from cold: the Spark session, the seeded pages built and
    cached, the workload's inputs and reference, and the first
    ``FIRST_ITERATIONS`` verified iterations. ``setup_s`` times all of it;
    ``build_s`` the pages build and cache alone."""

    def __init__(self, workload, seed: int, work: str, tally: Tally):
        from geohash_dotnet_spark.sources.pages import pages

        from perfbench import inputs
        from perfbench.reference import Oracle
        from perfbench.workloads import Ctx

        t0 = time.perf_counter()
        spark = new_session(work)
        docs = inputs.write_documents(seed, os.path.join(work, "docs"))
        t1 = time.perf_counter()
        pg = pages(spark, docs, replicate=workload.replicate).cache()
        n_pages = pg.count()
        self.build_s = time.perf_counter() - t1
        if n_pages != inputs.N_DOCS * workload.replicate:
            raise RuntimeError(f"pages table has {n_pages} rows")
        self.oracle = Oracle(docs, workload.replicate)
        self.ctx = Ctx(spark, pg, n_pages, seed, self.oracle)
        workload.prepare(self.ctx)
        self.expected = workload.reference(self.ctx)
        for _ in range(FIRST_ITERATIONS):
            run_checked(lambda: workload.iterate(self.ctx), self.expected,
                        tally)
        self.setup_s = time.perf_counter() - t0


def median_by_trace(spans, key_of) -> dict[str, float]:
    """Per iteration (trace id), sum each numeric attr over the action spans;
    then the median over iterations."""
    per_trace: dict[int, dict[str, float]] = {}
    for s in spans:
        for k, v in key_of(s).items():
            d = per_trace.setdefault(s["trace"], {})
            d[k] = d.get(k, 0.0) + v
    keys = {k for d in per_trace.values() for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in per_trace.values())
            for k in keys}


def layer_metrics(workload, setup, ctx, tracer, tally, walls_plain,
                  seconds, sample) -> dict[str, float]:
    """The traced loop, one traced iteration of each other workload for the
    operator layers this one does not call, and the kernel probe."""
    from perfbench.layers import kernel_rates
    from perfbench.sparkstats import PLAN_FIELDS, STAGE_FIELDS, StageDelta
    from perfbench.workloads import WORKLOADS

    def next_trace():
        tracer.trace_id += 1

    ctx.tracer, ctx.stages = tracer, StageDelta(ctx.spark)
    walls, procs = measure(lambda: workload.iterate(ctx), setup.expected,
                           seconds, tally, sample, on_iteration=next_trace)
    own = list(tracer.spans)
    out = {}
    stage = median_by_trace(own, lambda s: {
        k: float(s["attrs"].get(k, 0.0)) for k in STAGE_FIELDS})
    plan = median_by_trace(own, lambda s: {
        k: float(s["attrs"].get(k, 0.0)) for k in PLAN_FIELDS})
    out.update({f"spark.{k}": stage[k] for k in STAGE_FIELDS})
    out.update({f"plan.{k}": plan[k] for k in PLAN_FIELDS})
    out["proc.jvm_cpu_s"] = statistics.median(p.jvm_cpu_s for p in procs)
    out["proc.python_cpu_s"] = statistics.median(p.python_cpu_s for p in procs)
    out["proc.driver_cpu_s"] = statistics.median(p.driver_cpu_s for p in procs)

    # operator spans: this workload's own iterations first, then one traced
    # iteration of each other workload for layers this one never calls
    for other_name, cls in WORKLOADS.items():
        if other_name == workload.name:
            continue
        other = cls()
        other.prepare(ctx)
        expected = other.reference(ctx)
        next_trace()
        run_checked(lambda: other.iterate(ctx), expected, tally)
    ctx.tracer = None

    def span_median(span, key=None):
        mine = [s for s in own if s["name"] == span]
        pool = mine or [s for s in tracer.spans if s["name"] == span]
        vals = [s["end"] - s["start"] if key is None else s["attrs"][key]
                for s in pool]
        return statistics.median(vals)

    for metric, span, key in (
            ("functions.native.with_geohash_s", "functions.native.with_geohash", None),
            ("operators.spatial_join.join_s", "operators.spatial_join.join", None),
            ("operators.spatial_join.kept_frac", "operators.spatial_join.join", "kept_frac"),
            ("operators.spatial_join.tile_stats_s", "operators.spatial_join.tile_stats", None),
            ("operators.coverage.cover_s", "operators.coverage.cover", None),
            ("operators.coverage.emitted_per_cell", "operators.coverage.cover", "emitted_per_cell"),
            ("operators.compress.compress_s", "operators.compress.compress", None),
            ("operators.compress.out_per_in", "operators.compress.compress", "out_per_in"),
            ("operators.zonal.zonal_s", "operators.zonal.zonal", None),
            ("operators.zonal.refine_kept_frac", "operators.zonal.zonal", "refine_kept_frac")):
        out[metric] = span_median(span, key)

    rates = kernel_rates(ctx.seed)
    out.update(rates)
    kernel_s = workload.kernel_s(setup.expected, rates,
                                 span_median("operators.coverage.cover", "cells"))
    out["functions.udfs.boundary_s"] = out["proc.python_cpu_s"] - kernel_s
    out["spark.persisted_rdds"] = float(
        ctx.spark.sparkContext._jsc.getPersistentRDDs().size())
    out["sources.pages.build_s"] = setup.build_s
    plain = ctx.n_pages / statistics.median(walls_plain)
    traced = ctx.n_pages / statistics.median(walls)
    out["trace.overhead_frac"] = 1.0 - traced / plain
    return out


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    from perfbench import proctree
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    workload = WORKLOADS[args.workload]()
    tally = Tally()
    try:
        setup = Setup(workload, args.seed, work, tally)
        ctx = setup.ctx
        settle(lambda: workload.iterate(ctx), setup.expected, SETTLE_SECONDS,
               tally)
        walls, procs = measure(lambda: workload.iterate(ctx), setup.expected,
                               args.seconds, tally, proctree.sample)
        if args.trace:
            metrics = layer_metrics(workload, setup, ctx, Tracer(), tally,
                                    walls, args.seconds, proctree.sample)
            units = LAYER_UNITS
        else:
            metrics = {
                "pages_per_s": ctx.n_pages / statistics.median(walls),
                # summed over the loop: one iteration's CPU is only a few
                # hundred 10 ms clock ticks, too coarse for a median
                "cpu_s_per_mpage": sum(p.cpu_s for p in procs)
                * 1e6 / (len(procs) * ctx.n_pages),
                "setup_s": setup.setup_s,
                # the largest tree-wide sum seen by any sample, so a worker
                # that exits before the run ends still counts
                "peak_rss_mb": max(p.peak_rss_mb for p in procs),
            }
            units = END_TO_END_UNITS
        setup.oracle.close()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    failed_frac = tally.failed / tally.attempted
    print(f"{args.workload} seed={args.seed} iterations={len(walls)} "
          f"failed_frac={failed_frac} ({tally.failed}/{tally.attempted})")
    for k, v in metrics.items():
        print(f"  {k} = {v} {units[k]}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


END_TO_END_UNITS = {"pages_per_s": "pages/s", "cpu_s_per_mpage": "s/Mpage",
                    "setup_s": "s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "kernels.geohash.encode_rows_per_s": "rows/s",
    "kernels.geohash.decode_rows_per_s": "rows/s",
    "kernels.geohash.neighbors_rows_per_s": "rows/s",
    "kernels.polygon.cover_cells_per_s": "cells/s",
    "kernels.compress.cells_per_s": "cells/s",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "proc.driver_cpu_s": "s",
    "functions.udfs.boundary_s": "s",
    "functions.native.with_geohash_s": "s",
    "operators.spatial_join.join_s": "s",
    "operators.spatial_join.kept_frac": "frac",
    "operators.spatial_join.tile_stats_s": "s",
    "operators.coverage.cover_s": "s",
    "operators.coverage.emitted_per_cell": "ratio",
    "operators.compress.compress_s": "s",
    "operators.compress.out_per_in": "ratio",
    "operators.zonal.zonal_s": "s",
    "operators.zonal.refine_kept_frac": "frac",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.stages": "count",
    "spark.tasks": "count",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "plan.sorts": "count",
    "plan.python_nodes": "count",
    "spark.persisted_rdds": "count",
    "sources.pages.build_s": "s",
    "trace.overhead_frac": "frac",
}


if __name__ == "__main__":
    sys.exit(main())
