"""Seeded inputs: the documents table the pages source fans out, and the
query shapes (join rectangle, geofence polygons).

The seed drives which documents exist (doc ids and source hosts, hence the
urls and, through md5(url), every page's point) and the query shapes. The
text corpus is drawn from a fixed generator and only permuted by the seed, so
the text volume, and with it the cost of quality scoring, is the same for
every seed.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 2000
N_FENCES = 3
TEXT_SEED = 20240101

# stopwords of every language the quality scorer knows, plus filler, so the
# scorer's per-language hit counts and language guess all have work to do
_WORDS = {
    "en": "the a and of to in is on for with".split(),
    "de": "der die das und ist ein mit von zu auf".split(),
    "es": "el la los y de que en un es con".split(),
    "fr": "le la les et de un est en que pour".split(),
}
_FILLER = ("data spark table join value fast row key scan query sort batch "
           "stream window column merge filter group order line part hash "
           "city map tile cell page crawl index shard").split()


def _corpus() -> tuple[list[str], list[str]]:
    rng = np.random.default_rng(TEXT_SEED)
    langs = list(_WORDS) + ["zh"]
    texts, out_langs = [], []
    for i in range(N_DOCS):
        lang = langs[i % len(langs)]
        vocab = _FILLER + _WORDS.get(lang, [])
        n = int(rng.integers(20, 90))
        texts.append(" ".join(rng.choice(vocab, size=n)))
        out_langs.append(lang)
    return texts, out_langs


def write_documents(seed: int, out_dir: str) -> str:
    """Write ``documents.parquet`` (the pages source's input) for ``seed``."""
    texts, langs = _corpus()
    rng = np.random.default_rng(seed)
    order = rng.permutation(N_DOCS)
    doc_ids = rng.choice(1 << 40, size=N_DOCS, replace=False).astype(np.int64)
    sources = [f"host{int(h)}" for h in rng.integers(0, 500, size=N_DOCS)]
    text = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(doc_ids),
        "text": pa.array(text),
        "lang": pa.array([langs[i] for i in order]),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def _box(lon0: float, lat0: float, lon1: float, lat1: float) -> str:
    return (f"POLYGON(({lon0!r} {lat0!r}, {lon1!r} {lat0!r}, {lon1!r} {lat1!r}, "
            f"{lon0!r} {lat1!r}, {lon0!r} {lat0!r}))")


def join_rectangle(seed: int) -> str:
    """The geotag join's query box: 8 x 11 whole p2 cells at a seeded place.

    The corners sit just inside p2 cell edges, so the ``intersects`` covering
    is always exactly those 88 cells, and since points are uniform in
    degrees the join keeps the same share of pages (88 of 1,024 cells)
    wherever the seed puts the box; the join's work does not vary with the
    seed.
    """
    rng = np.random.default_rng([seed, 1])
    cols, rows = 8, 11
    w, h = 360.0 / 32, 180.0 / 32  # p2 cell: 11.25 x 5.625 degrees
    c0 = int(rng.integers(0, 32 - cols + 1))
    r0 = int(rng.integers(0, 32 - rows + 1))
    eps = 1e-6
    return _box(-180.0 + c0 * w + eps, -90.0 + r0 * h + eps,
                -180.0 + (c0 + cols) * w - eps, -90.0 + (r0 + rows) * h - eps)


def geofences(seed: int) -> list[tuple[str, str]]:
    """``N_FENCES`` star-shaped polygons about 0.55 degrees across, away from the
    poles and the antimeridian, as (zone id, WKT). The radii vary little,
    so the number of cells covered does not swing between seeds."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for k in range(N_FENCES):
        clon, clat = rng.uniform(-170.0, 170.0), rng.uniform(-60.0, 60.0)
        m = int(rng.integers(7, 13))
        ang = np.sort(rng.uniform(0.0, 2 * math.pi, size=m))
        rad = rng.uniform(0.25, 0.3, size=m)
        pts = [(round(clon + r * math.cos(a), 4), round(clat + r * math.sin(a), 4))
               for a, r in zip(ang, rad)]
        pts.append(pts[0])
        ring = ", ".join(f"{x!r} {y!r}" for x, y in pts)
        out.append((f"fence{k}", f"POLYGON(({ring}))"))
    return out
