"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start and end (``perf_counter`` seconds) and the
iteration (trace id) it belongs to, plus counts recorded at the same
boundary.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.trace_id = 0

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "trace": self.trace_id,
               "start": time.perf_counter(), "end": None, "attrs": {}}
        self.spans.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
