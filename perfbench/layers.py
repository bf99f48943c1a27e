"""Per-layer numbers that need no Spark: NumPy kernel rates on seeded fixed
inputs, timed in this process."""

from __future__ import annotations

import statistics
import time

import numpy as np

from geohash_dotnet_spark.kernels import (
    compress, cover_polygon, decode, encode, neighbors)

from .workloads import CALIFORNIA

KERNEL_ROWS = 200_000
REPEATS = 3


def _rate(n: int, fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def kernel_rates(seed: int) -> dict[str, float]:
    """Rows (or cells) per second of each kernel the workloads reach."""
    rng = np.random.default_rng([seed, 3])
    lat = rng.uniform(-90.0, 90.0, KERNEL_ROWS)
    lon = rng.uniform(-180.0, 180.0, KERNEL_ROWS)
    tiles = encode(lat, lon, 7)
    nb_rows = KERNEL_ROWS // 4
    with open(CALIFORNIA) as f:
        cal = f.read().strip()
    cells = cover_polygon(cal, 5, "intersects")
    cell_list = cells.tolist()
    return {
        "kernels.geohash.encode_rows_per_s":
            _rate(KERNEL_ROWS, lambda: encode(lat, lon, 12)),
        "kernels.geohash.decode_rows_per_s":
            _rate(KERNEL_ROWS, lambda: decode(tiles)),
        "kernels.geohash.neighbors_rows_per_s":
            _rate(nb_rows, lambda: neighbors(tiles[:nb_rows])),
        "kernels.polygon.cover_cells_per_s":
            _rate(len(cells), lambda: cover_polygon(cal, 5, "intersects")),
        "kernels.compress.cells_per_s":
            _rate(len(cells), lambda: compress(cell_list)),
    }
