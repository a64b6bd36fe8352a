"""In-memory spans for the traced run.

Spans (name, start, end, parent, run id, attributes) are recorded only
around the benchmark's own calls into the program: the session factory,
the query builders, the forced physical plan, the action,
`observability.capture` and `sources.catalog.load_table` (wrapped, never
edited). With tracing off every span is a no-op.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, on: bool, run_id: str):
        self.on = on
        self.run_id = run_id
        self.spans: list[dict] = []
        self.loads: list[tuple[float, bool]] = []  # (start, cache hit) per load_table call
        self._last_relation: dict[tuple, object] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        start = time.perf_counter()
        rec = {"name": name, "start": start, "end": None,
               "parent": stack[-1]["id"] if stack else None,
               "run": self.run_id, "thread": threading.current_thread().name, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, since: float) -> float:
        """Seconds in spans called `name` that started at or after `since`."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None and s["start"] >= since)

    def wrap_load_table(self) -> None:
        """Time every `load_table` call the query builders make, and count
        the calls that return the very DataFrame object the previous call
        for the same table returned (the relation cache hitting)."""
        import tez_spark.sources.catalog as catalog

        original = catalog.load_table

        def load_table(spark, sf_dir, name):
            start = time.perf_counter()
            with self.span("sources.load_table", table=name):
                df = original(spark, sf_dir, name)
            key = (sf_dir, name)
            with self._lock:
                self.loads.append((start, self._last_relation.get(key) is df))
                self._last_relation[key] = df
            return df

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("tez_spark")
                    and getattr(mod, "load_table", None) is original):
                mod.load_table = load_table

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
