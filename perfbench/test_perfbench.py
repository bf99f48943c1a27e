"""Tests of the benchmark itself: a wrong or raising iteration is counted as
failed, and the /proc and plan readers parse what they are given.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import reference, run
from perfbench.proctree import ProcSample, parse_hwm_kb, parse_stat
from perfbench.sparkstats import plan_counts


def _points(n=2000, seed=5):
    rng = np.random.default_rng(seed)
    return rng.uniform(-90, 90, n), rng.uniform(-180, 180, n)


def test_corrupted_summary_is_counted():
    lat, lon = _points()
    expected = reference.tiles(lat, lon, 7)
    corrupted = expected[:-1] + (expected[-1] + 1,)
    tally = run.Tally()
    assert run.run_checked(lambda: expected, expected, tally)
    assert not run.run_checked(lambda: corrupted, expected, tally)
    assert (tally.attempted, tally.failed) == (2, 1)


def test_measure_counts_every_bad_iteration():
    results = iter([1, 2, 1, 3, 1])
    tally = run.Tally()
    zero = ProcSample(0.0, 0.0, 0.0)
    for _ in range(5):
        # a zero-second loop runs exactly one iteration
        walls, procs = run.measure(lambda: next(results), 1, 0.0, tally,
                                   lambda: zero)
        assert len(walls) == len(procs) == 1
    assert (tally.attempted, tally.failed) == (5, 2)


def test_measure_reads_driver_cpu():
    zero = ProcSample(0.0, 0.0, 0.0)

    def busy():
        return sum(i * i for i in range(300_000))

    want = busy()
    walls, procs = run.measure(busy, want, 0.0, run.Tally(), lambda: zero)
    assert procs[0].driver_cpu_s > 0
    assert procs[0].cpu_s == procs[0].driver_cpu_s


def test_raise_is_counted():
    tally = run.Tally()

    def boom():
        raise RuntimeError("engine failed")

    assert not run.run_checked(boom, 1, tally)
    assert (tally.attempted, tally.failed) == (1, 1)


def test_neighbour_crc_matches_the_kernel():
    from zlib import crc32

    from geohash_dotnet_spark.kernels import DIRECTIONS, encode, neighbors

    lat, lon = _points(300)
    tiles = np.unique(encode(lat, lon, 7))
    nb = neighbors(tiles)
    want = sum(crc32(",".join(r).encode())
               for r in zip(*(nb[d] for d in DIRECTIONS)))
    assert reference.neighbour_crc(tiles, 7) == want


def test_inside_square():
    wkt = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
    lat = np.array([5.0, 5.0, -1.0, 11.0])
    lon = np.array([5.0, 12.0, 5.0, 5.0])
    assert reference.inside(wkt, lat, lon).tolist() == [True, False, False, False]


def test_parse_stat_with_odd_command_name():
    rest = " ".join(["S", "42"] + ["0"] * 9 + ["100", "50", "7", "3"] + ["0"] * 30)
    ppid, cpu = parse_stat(f"1234 (java (x) y) {rest}")
    assert ppid == 42
    assert cpu == pytest.approx(160 / run.os.sysconf("SC_CLK_TCK"))


def test_parse_hwm():
    assert parse_hwm_kb("Name:\tjava\nVmHWM:\t  2048 kB\nVmRSS: 10 kB\n") == 2048


def test_plan_counts_skip_cached_subplan():
    tree = "\n".join([
        "*(2) HashAggregate(keys=[])",
        "+- InMemoryTableScan [a]",
        "      +- InMemoryRelation [a], StorageLevel",
        "            +- Exchange RoundRobinPartitioning(16)",
        "+- Exchange hashpartitioning(x, 8)",
        "   +- ArrowEvalPython [f(x)]",
        "      +- *(1) Sort [a ASC]",
        "         +- BroadcastExchange HashedRelationBroadcastMode",
    ])
    assert plan_counts(tree) == {"exchanges": 1, "broadcasts": 1, "sorts": 1,
                                 "python_nodes": 1}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    work = str(tmp_path_factory.mktemp("perfbench"))
    session = run.new_session(work)
    yield session, work
    run.stop_spark()


def test_engine_result_from_corrupted_input_is_counted(spark):
    """End to end on Spark: the geotag workload verifies against DuckDB, and
    an engine run over a pages table with one page missing is a failure."""
    from geohash_dotnet_spark.sources.pages import pages

    from perfbench import inputs
    from perfbench.workloads import Ctx, GeotagJoin

    session, work = spark
    docs = inputs.write_documents(3, f"{work}/docs")
    pg = pages(session, docs, replicate=2).cache()
    oracle = reference.Oracle(docs, 2)
    try:
        ctx = Ctx(session, pg, pg.count(), 3, oracle)
        wl = GeotagJoin()
        wl.prepare(ctx)
        expected = wl.reference(ctx)
        tally = run.Tally()
        assert run.run_checked(lambda: wl.iterate(ctx), expected, tally)
        ctx.pages = pg.limit(ctx.n_pages - 1)
        assert not run.run_checked(lambda: wl.iterate(ctx), expected, tally)
        assert (tally.attempted, tally.failed) == (2, 1)
    finally:
        oracle.close()
        pg.unpersist()


def test_join_output_rows(spark):
    from perfbench.sparkstats import join_output_rows

    session, _ = spark
    left = session.createDataFrame([(i % 7,) for i in range(100)], "k int")
    right = session.createDataFrame([(k,) for k in range(3)], "k int")
    joined = left.join(right, "k")
    # keys 0, 1, 2 occur 15, 15 and 14 times in 0..99 mod 7
    assert len(joined.collect()) == join_output_rows(joined) == 44
