"""Spans and counters for the traced run.

Every span is recorded from the benchmark's own files: either around a call
the benchmark makes (an op, ``QuerySpec.fn``, the collect, a mutation, a
streaming trigger) or by replacing a public function of the program with a
timing wrapper for the length of the traced pass. Nothing inside the program
changes. Spans stay in memory and are written once, when the run ends.

One op runs at a time (a closed loop with one client), so a single stack
gives each span its parent, also for the spans opened from the thread that
runs a streaming ``foreachBatch`` sink while the caller waits for it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import pkgutil
import time
from collections import Counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""

        def wrapper(fn):
            def timed(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            return timed

        self._patch(owner, attr, wrapper)

    def count_cache(self, owner, attr: str, cache: dict) -> None:
        """Count lookups of a ``(spark, sf_dir)``-keyed cache accessor and
        the ones that found their entry already built."""

        def wrapper(fn):
            def counted(spark, sf_dir):
                self.counts["dedup.cache_lookups"] += 1
                if (spark.sparkContext.applicationId, sf_dir) in cache:
                    self.counts["dedup.cache_hits"] += 1
                return fn(spark, sf_dir)

            return counted

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the program's layer entry points (see module docstring)."""
        import hive_backend_spark.queries as queries
        from hive_backend_spark.operators import dedup as dedup_ops
        from hive_backend_spark.queries import dedup as dedup_queries
        from hive_backend_spark.streaming import pipeline

        # each query module calls the load_table name it imported
        for info in pkgutil.iter_modules(queries.__path__):
            mod = importlib.import_module(f"{queries.__name__}.{info.name}")
            if hasattr(mod, "load_table"):
                self.wrap(mod, "load_table", "catalog.load_table")
        for fn in ("connected_components", "fp_candidate_pairs", "lsh_candidate_pairs"):
            self.wrap(dedup_ops, fn, f"dedup.{fn}")
        for meth in ("read_latest", "overwrite_parts", "prune"):
            self.wrap(pipeline.VersionedStateTable, meth, f"state.{meth}")
        # the dedup queries' shared materializations (signature, candidate
        # and label tables) are private accessors keyed like their caches
        for accessor, cache in (
            ("_sig_tables", "_SIG_CACHE"),
            ("_fp_pairs", "_FPP_CACHE"),
            ("_lsh_pairs", "_PAIRS_CACHE"),
            ("_cluster_labels_sized", "_LABELS_CACHE"),
        ):
            self.count_cache(dedup_queries, accessor, getattr(dedup_queries, cache))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class NullTracer(Tracer):
    """The untraced run: same calls, no records."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


def span_cost_s(calls: int = 20000) -> float:
    """What one wrapped call costs over a plain call: the wrapper, its
    span record and its two clock reads, timed on a function that does
    nothing. Spans recorded x this cost is the tracing overhead."""
    import types

    def noop():
        return None

    holder = types.SimpleNamespace(f=noop)
    tracer = Tracer()
    tracer.wrap(holder, "f", "calibration")
    wrapped = holder.f
    t0 = time.perf_counter()
    for _ in range(calls):
        wrapped()
    t1 = time.perf_counter()
    for _ in range(calls):
        noop()
    t2 = time.perf_counter()
    return max((t1 - t0) - (t2 - t1), 0.0) / calls
