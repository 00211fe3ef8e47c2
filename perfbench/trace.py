"""Spans around calls into public functions of bliss_rs_spark modules, and
the per-layer table built from them.

Every span records its wall time.  In a traced run each span also sets a
Spark job group of its own (inherited by the library's driver threads), so
the JSON event log ties each job and task to the span that caused it.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager

from perfbench.eventlog import Span, Totals

QUERY_SPANS = ("wand.query", "lifecycle.search_index")
PROBE_SPANS = ("build_index.build_index_frames", "pack.build_packed_index_full")
STORE_FRAMES = (
    "postings", "packed", "doc_map", "doc_stats", "term_stats", "manifest",
    "tombstones", "checkpoint",
)
_BUILD_FIELDS = (
    "wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "jvm_gc_s",
    "driver_gap_s", "shuffle_write_mb", "output_mb",
)
_UNITS = {
    "calls": "count", "jobs": "count", "tasks": "count", "folds": "count",
    "snapshots_removed": "count", "docs_processed": "count",
    "reused_unit_ratio": "ratio", "wall_ms_p50": "ms",
    "jobs_per_call": "count/call", "tasks_per_call": "count/call",
    "exec_run_ms_per_call": "ms/call", "driver_gap_ms_per_call": "ms/call",
    "wall_s_per_call": "s/call", "exec_run_s_per_call": "s/call",
    "driver_gap_s_per_call": "s/call", "shuffle_write_mb_per_call": "MB/call",
    "output_mb_per_call": "MB/call", "shuffle_write_mb": "MB", "output_mb": "MB",
}


def _spec() -> list[tuple[str, str]]:
    """(span, field) for every per-layer metric, in table order."""
    out = []
    for s in QUERY_SPANS:
        out += [(s, f) for f in (
            "calls", "wall_ms_p50", "jobs_per_call", "tasks_per_call",
            "exec_run_ms_per_call", "driver_gap_ms_per_call",
        )]
    out += [("wand.from_store", f) for f in (
        "calls", "wall_s", "jobs", "exec_run_s", "driver_gap_s", "output_mb",
    )]
    out += [("wand.refresh", f) for f in (
        "calls", "wall_s_per_call", "jobs_per_call", "exec_run_s_per_call",
        "driver_gap_s_per_call", "reused_unit_ratio",
    )]
    out += [("lifecycle.build_full", f) for f in ("calls",) + _BUILD_FIELDS]
    for s in PROBE_SPANS:
        out += [(s, f) for f in (
            "calls", "wall_s", "jobs", "exec_run_s", "exec_cpu_s", "shuffle_write_mb",
        )]
    out += [("lifecycle.update_index", f) for f in (
        "calls", "wall_s_per_call", "jobs_per_call", "tasks_per_call",
        "exec_run_s_per_call", "driver_gap_s_per_call",
        "shuffle_write_mb_per_call", "output_mb_per_call", "docs_processed",
    )]
    out += [("lifecycle.maintain", f) for f in (
        "calls", "folds", "wall_s", "jobs", "output_mb",
    )]
    out += [("index_store.gc", f) for f in ("calls", "wall_s", "snapshots_removed")]
    out += [("index_store.bytes_per_input_byte", f) for f in STORE_FRAMES]
    out += [("session.get_spark", f) for f in ("calls", "wall_s")]
    return out


LAYER_METRICS = [(f"{s}.{f}", _UNITS.get(f, "s" if f.endswith("_s") else "ratio"))
                 for s, f in _spec()]


class Tracer:
    """Records one Span per call; sets a job group per span when traced."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self.extras: dict[str, list[float]] = {}  # span field -> values
        self._sc = None
        self._ids = itertools.count()

    def attach(self, sc) -> None:
        self._sc = sc

    def note(self, key: str, value: float) -> None:
        self.extras.setdefault(key, []).append(value)

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{next(self._ids)}"
        if self.traced and self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)
            self._sc.setLocalProperty("spark.job.description", name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(group, name, start, time.time()))
            if self.traced and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)


def layer_table(totals: dict[str, Totals], extras: dict[str, list[float]],
                store_bytes: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric by name; a span that never ran reads 0."""
    out = {}
    for span, fld in _spec():
        t = totals.get(span, Totals())
        n = max(t.calls, 1)
        key = f"{span}.{fld}"
        if span == "index_store.bytes_per_input_byte":
            out[key] = store_bytes.get(fld, 0.0)
        elif fld in ("reused_unit_ratio", "docs_processed", "folds", "snapshots_removed"):
            vals = extras.get(key, [])
            agg = statistics.fmean if fld == "reused_unit_ratio" else sum
            out[key] = float(agg(vals)) if vals else 0.0
        elif fld == "wall_ms_p50":
            out[key] = statistics.median(t.walls) * 1000.0 if t.walls else 0.0
        elif fld.endswith("_ms_per_call"):
            out[key] = getattr(t, fld[: -len("_ms_per_call")] + "_s") * 1000.0 / n
        elif fld.endswith("_per_call"):
            out[key] = float(getattr(t, fld[: -len("_per_call")])) / n
        else:
            out[key] = float(getattr(t, fld))
    return out
