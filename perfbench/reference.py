"""Reference results, computed once per set-up by a path independent of
Spark: DuckDB runs the SQL twins of the pages source and the quality scorer
(``functions/oracle.py``, ``operators/text.quality_sql``), and the NumPy
kernels give the cells.

Every reference is a small, hashable summary of the workload's output, so a
timed iteration's result can be compared with ``==``.
"""

from __future__ import annotations

import os
import zlib

import duckdb
import numpy as np

from geohash_dotnet_spark.functions.oracle import pages_sql, pages_tagged_sql
from geohash_dotnet_spark.kernels import (
    DIRECTIONS, compress, cover_polygon, decode, encode, lat_lng_steps,
    parse_wkt, split_antimeridian)
from geohash_dotnet_spark.operators.text import quality_sql

# neighbour offsets in cell heights/widths, in the engine's N..NW order
_STEP = {"n": (1, 0), "ne": (1, 1), "e": (0, 1), "se": (-1, 1),
         "s": (-1, 0), "sw": (-1, -1), "w": (0, -1), "nw": (1, -1)}


def q6(x):
    """Fixed-point 6-dp quantum, the engine's libm-free rounding."""
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)


class Oracle:
    """DuckDB over the seeded documents table."""

    def __init__(self, docs_dir: str, replicate: int):
        self.replicate = replicate
        self.con = duckdb.connect()
        path = os.path.join(docs_dir, "documents.parquet")
        self.con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                     f"read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def points(self) -> tuple[np.ndarray, np.ndarray]:
        got = self.con.sql(f"SELECT lat, lon FROM ({pages_sql(self.replicate)})"
                           ).fetchnumpy()
        return got["lat"], got["lon"]

    def geotag(self, rect_cells) -> tuple:
        """(count, min, max) of the p12 encode and the per-(tile1, lang)
        page counts and quantized quality sums of the rectangle join."""
        q1 = self.con.sql(f"SELECT count(gh), min(gh), max(gh) FROM "
                          f"({pages_tagged_sql(12, self.replicate)})").fetchone()
        # the covering is joined as a table: an IN list over the inlined
        # geohash expression is re-evaluated per item and is 20x slower
        cells = ", ".join(f"('{c}')" for c in rect_cells)
        quality = (f"SELECT doc_id, CAST(floor(quality_score * 1000000.0 + 0.5) "
                   f"AS BIGINT) AS q FROM ({quality_sql('documents')})")
        rows = self.con.sql(
            f"SELECT substr(p.gh, 1, 1), p.lang, count(*), sum(s.q) "
            f"FROM ({pages_tagged_sql(2, self.replicate)}) p "
            f"JOIN ({quality}) s USING (doc_id) "
            f"JOIN (VALUES {cells}) c(cell) ON p.gh = c.cell "
            f"GROUP BY 1, 2").fetchall()
        return (tuple(q1), tuple(sorted((a, b, int(c), int(d))
                                        for a, b, c, d in rows)))


def neighbour_crc(tiles: np.ndarray, precision: int) -> int:
    """Sum over tiles of crc32 of the comma-joined 8 neighbours.

    Neighbours are re-encoded from the decoded centre shifted by one cell,
    which is the engine's definition (pole bounce and antimeridian wrap come
    from encode's clamp and wrap), without its per-row string parsing.
    """
    c_lat, c_lng = decode(tiles)
    h, w = lat_lng_steps(precision)
    cols = [encode(c_lat + dy * h, c_lng + dx * w, precision)
            for dy, dx in (_STEP[d] for d in DIRECTIONS)]
    return sum(zlib.crc32(",".join(row).encode()) for row in zip(*cols))


def tiles(lat: np.ndarray, lon: np.ndarray, precision: int) -> tuple:
    """(tiles, pages, urls, sum q6 centre lat, sum q6 centre lon, crc)."""
    tile, counts = np.unique(encode(lat, lon, precision), return_counts=True)
    c_lat, c_lng = decode(tile)
    # every page has its own url, so a tile's distinct urls are its pages
    return (len(tile), int(counts.sum()), int(counts.sum()),
            int(q6(c_lat).sum()), int(q6(c_lng).sum()),
            neighbour_crc(tile, precision))


def inside(wkt: str, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Even-odd membership of points in a polygon, edge by edge."""
    out = np.zeros(lat.shape[0], dtype=bool)
    for poly in parse_wkt(wkt):
        for part in split_antimeridian(poly):
            hit = np.zeros(lat.shape[0], dtype=bool)
            for ring in part:
                for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                    if y1 == y2:
                        continue
                    cross = (y1 > lat) != (y2 > lat)
                    x_int = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                    hit ^= cross & (lon < x_int)
            out |= hit
    return out


def geofence(polygons: list[tuple[str, str, int]], lat: np.ndarray,
             lon: np.ndarray) -> tuple:
    """Per polygon: compressed covering, then per-zone point counts."""
    compressed = tuple(sorted(
        (pid, tuple(sorted(compress(
            cover_polygon(wkt, p, "intersects").tolist()))))
        for pid, wkt, p in polygons))
    counts = []
    for pid, wkt, _ in polygons:
        n = int(inside(wkt, lat, lon).sum())
        if n:
            counts.append((pid, n))
    return compressed, tuple(sorted(counts))

