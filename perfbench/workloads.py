"""The three workloads, each written against the package's public functions.

A workload has three steps: ``prepare`` builds its query inputs from the
seed, ``reference`` computes the expected summary by an independent path
(``reference.py``), and ``iterate`` runs the engine once and returns the same
summary. Each Spark action goes through ``Ctx.act``, which in a traced run
wraps it in a span with stage metrics and plan node counts.

In a traced run the pipelines materialize their intermediate tables (tile
stats, the covering) with ``cache()`` so that each operator is its own action
and gets its own span; ``trace.overhead_frac`` reports what that costs.
"""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import gh_decode, gh_neighbors, with_geohash
from geohash_dotnet_spark.kernels import cover_polygon
from geohash_dotnet_spark.operators import (
    CoverageMetrics, compress_cells, cover_polygons, spatial_join, tile_stats,
    with_quality, zonal_stats)

from . import inputs
from . import reference as ref
from .sparkstats import final_plan, join_output_rows, plan_counts

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALIFORNIA = os.path.join(ROOT, "tests", "golden", "california_p5_contains.wkt")


class Ctx:
    """What one session gives the workloads: the cached pages, the seed and
    the oracle. A traced run sets ``tracer`` and ``stages``."""

    def __init__(self, spark, pages, n_pages: int, seed: int, oracle):
        self.spark = spark
        self.pages = pages
        self.n_pages = n_pages
        self.seed = seed
        self.oracle = oracle
        self.tracer = None
        self.stages = None
        self.last: dict = {}
        self._points = None

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def points(self):
        if self._points is None:
            self._points = self.oracle.points()
        return self._points

    def act(self, name: str, df) -> list:
        """``df.collect()``, inside a span with stage and plan readings when
        traced."""
        if not self.traced:
            return df.collect()
        self.stages.mark()
        with self.tracer.span(name) as attrs:
            rows = df.collect()
        attrs.update(self.stages.collect())
        attrs.update(plan_counts(final_plan(df)))
        self.last = attrs
        return rows


class GeotagJoin:
    """bench.py's q1 + q3: p12 encode with an aggregate, then a left-semi
    join against a coarse p2 rectangle covering, quality scoring and a
    group-by. JVM-native throughout."""

    name = "geotag_join"
    # 2,000 documents x 512 = 1,024,000 pages: its iterations are the
    # shortest, and at 256,000 pages job overhead spread runs by a tenth
    replicate = 512

    def prepare(self, ctx: Ctx) -> None:
        self.cells = cover_polygon(inputs.join_rectangle(ctx.seed), 2,
                                   "intersects").tolist()
        self.cov = ctx.spark.createDataFrame([(c,) for c in self.cells],
                                             "cell string")

    def reference(self, ctx: Ctx):
        return ctx.oracle.geotag(self.cells)

    def kernel_s(self, expected, rates, cover_cells) -> float:
        """Kernel seconds inside Python workers per iteration: none."""
        return 0.0

    def iterate(self, ctx: Ctx):
        pg = ctx.pages
        enc = with_geohash(pg, "lat", "lon", 12).agg(
            F.count("gh"), F.min("gh"), F.max("gh"))
        q1 = ctx.act("functions.native.with_geohash", enc)[0]
        joined = with_quality(spatial_join(pg, self.cov, precision=2,
                                           how="left_semi"))
        q3 = (joined.groupBy(F.substring("gh", 1, 1), "lang")
              .agg(F.count(F.lit(1)),
                   F.sum(F.floor(F.col("quality_score") * 1e6 + F.lit(0.5))
                         .cast("long"))))
        rows = ctx.act("operators.spatial_join.join", q3)
        if ctx.traced:
            kept = sum(r[2] for r in rows)
            ctx.last["kept_frac"] = kept / ctx.n_pages
        return (tuple(q1), tuple(sorted((a, b, int(c), int(d))
                                        for a, b, c, d in rows)))


class TileNeighbors:
    """tile_stats at p7, then gh_decode and gh_neighbors (Arrow UDFs) over
    the distinct tiles, reduced to exact checksums in Spark."""

    name = "tile_neighbors"
    replicate = 128  # 256,000 pages
    precision = 7

    def prepare(self, ctx: Ctx) -> None:
        pass

    def reference(self, ctx: Ctx):
        lat, lon = ctx.points()
        return ref.tiles(lat, lon, self.precision)

    def kernel_s(self, expected, rates, cover_cells) -> float:
        """Decode and neighbours kernel seconds for the iteration's tiles."""
        n = expected[0]
        return (n / rates["kernels.geohash.decode_rows_per_s"]
                + n / rates["kernels.geohash.neighbors_rows_per_s"])

    def iterate(self, ctx: Ctx):
        ts = tile_stats(ctx.pages, self.precision)
        if ctx.traced:
            ts = ts.cache()
            ctx.act("operators.spatial_join.tile_stats",
                    ts.agg(F.count(F.lit(1))))
        c = gh_decode(F.col("tile"))
        nb = F.concat_ws(",", gh_neighbors(F.col("tile")))

        def q6(x):
            return F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")

        out = (ts.select("n_pages", "n_urls", c.alias("c"), nb.alias("nb"))
               .agg(F.count(F.lit(1)), F.sum("n_pages"), F.sum("n_urls"),
                    F.sum(q6(F.col("c.lat"))), F.sum(q6(F.col("c.lon"))),
                    F.sum(F.crc32(F.col("nb").cast("binary")))))
        try:
            row = ctx.act("functions.udfs.decode_neighbors", out)[0]
        finally:
            if ctx.traced:
                ts.unpersist()
        return tuple(int(v) for v in row)


class GeofenceCover:
    """Seeded fences at p6 plus the golden California polygon at its golden
    p5: cover_polygons, compress_cells, then zonal_stats of pages at p5.
    The covering is fine, the join selective and an exact refine follows."""

    name = "geofence_cover"
    replicate = 128  # 256,000 pages
    fence_precision = 6
    california_precision = 5
    zonal_precision = 5

    def prepare(self, ctx: Ctx) -> None:
        with open(CALIFORNIA) as f:
            cal = f.read().strip()
        self.polygons = [(pid, wkt, self.fence_precision)
                         for pid, wkt in inputs.geofences(ctx.seed)]
        self.polygons.append(("california", cal, self.california_precision))
        self.zones = [(pid, wkt) for pid, wkt, _ in self.polygons]

    def reference(self, ctx: Ctx):
        lat, lon = ctx.points()
        return ref.geofence(self.polygons, lat, lon)

    def kernel_s(self, expected, rates, cover_cells) -> float:
        """Cover and compress kernel seconds for the iteration's cells."""
        return (cover_cells / rates["kernels.polygon.cover_cells_per_s"]
                + cover_cells / rates["kernels.compress.cells_per_s"])

    def iterate(self, ctx: Ctx):
        spark = ctx.spark
        metrics = CoverageMetrics(spark) if ctx.traced else None
        cov = cover_polygons(spark, [(p, w, k, "intersects")
                                     for p, w, k in self.polygons],
                             metrics=metrics)
        try:
            if ctx.traced:
                cov = cov.cache()
                n = ctx.act("operators.coverage.cover",
                            cov.agg(F.count(F.lit(1))))[0][0]
                ctx.last["cells"] = n
                ctx.last["emitted_per_cell"] = metrics.cells_emitted.value / n
            comp = ctx.act("operators.compress.compress",
                           compress_cells(cov, group_cols=["polygon_id"]))
        finally:
            if ctx.traced:
                cov.unpersist()
        by_poly = defaultdict(list)
        for pid, cell in comp:
            by_poly[pid].append(cell)
        if ctx.traced:
            ctx.last["out_per_in"] = len(comp) / n
        zdf = zonal_stats(ctx.pages, self.zones, self.zonal_precision)
        zs = ctx.act("operators.zonal.zonal", zdf)
        if ctx.traced:
            # of the (page, zone) candidates the cell join tags, the share
            # the exact membership refine keeps
            ctx.last["refine_kept_frac"] = (sum(int(c) for _, c in zs)
                                            / join_output_rows(zdf))
        return (tuple(sorted((p, tuple(sorted(c))) for p, c in by_poly.items())),
                tuple(sorted((zone, int(count)) for zone, count in zs)))


WORKLOADS = {w.name: w for w in (GeotagJoin, TileNeighbors, GeofenceCover)}
