"""The ``serve`` and ``churn`` workloads.

Both run in one process at local[nproc], driven by one closed-loop client:
the next call starts only when the previous one returned (the server is a
library API with no request queue).  Set-up: Spark session, a seeded
corpus, one ``build_full``, a ``WandServer`` opened from the store, one
warm-up ``query`` and one warm-up ``search_index``.  Then a query window
over the seeded mix.  The window is a whole number of rounds of the mix,
set from ``seconds`` and never from measured time, so every run of a
workload times the same ops in the same order.

- ``serve``: the window runs on the freshly built store (1 unit, no
  tombstones).
- ``churn``: set-up also writes once before the server opens -- ~1% of docs
  changed, ~0.5% deleted, ``update_index(repack="segment")`` + ``maintain``
  + ``gc`` -- so the window runs on 2 packed units plus tombstones, and the
  write's cost lands in ``setup_s``.

Answers are checked outside the timed window, once per distinct query.  A
traced run then adds one refresh cycle and the ingest probes, so every
per-layer span has calls on both workloads.
"""

from __future__ import annotations

import json
import os
import random
import time

from perfbench import host
from perfbench.oracle import Oracle
from perfbench.querymix import build_mix, repeat_share
from perfbench.stats import median, summary
from perfbench.trace import STORE_FRAMES, Tracer

N_DOCS = 1000
LAYOUT = dict(n_doc_shards=4, n_term_buckets=4, compact_max_units=3)
CHANGED_SHARE = 0.01  # each changed doc carries the write's marker term
DELETED_SHARE = 0.005
ROUND_S = 4.0  # nominal seconds per round of the mix on the measured host
MARKER_K = 1000
SCORE_TOL = 1e-6
DOC_COLS = ("repo", "path", "commit", "lang", "content")

SPAN_OF = {"wand": "wand.query", "search": "lifecycle.search_index"}
WORKLOADS = ("serve", "churn")


class Ledger:
    """Ops attempted and failed (raised, or an answer failing its check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, ok: bool = True, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(why)


def topk_matches(got: list, want: list, tol: float = SCORE_TOL) -> bool:
    """Rank-identical (doc_id, score) lists, scores within ``tol``.  Docs
    may trade places only inside a group of tied scores; the last tied
    group may be cut at k differently."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    groups: list[tuple[set, set]] = []
    prev = None
    for (gd, gs), (wd, _) in zip(got, want):
        if prev is None or abs(gs - prev) > tol:
            groups.append((set(), set()))
        groups[-1][0].add(gd)
        groups[-1][1].add(wd)
        prev = gs
    return all(g == w for g, w in groups[:-1])


def store_bytes(path: str) -> tuple[int, dict[str, int]]:
    """Distinct-inode bytes of the store, in total and per frame."""
    seen = set()
    total = 0
    per: dict[str, int] = {f: 0 for f in STORE_FRAMES}
    for dirpath, _, files in os.walk(path):
        rel = os.path.relpath(dirpath, path).split(os.sep)
        if rel[0] == "derived":
            frame = "derived"
        elif rel[0] == "_checkpoints":
            frame = "checkpoint"
        elif rel[0] == "segments" and len(rel) > 2:
            frame = rel[2]
        elif rel[0] != "." and len(rel) > 1:
            frame = rel[1]
        else:
            frame = None
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if (st.st_dev, st.st_ino) in seen:
                continue
            seen.add((st.st_dev, st.st_ino))
            total += st.st_size
            if frame in per:
                per[frame] += st.st_size
    return total, per


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, conf: dict):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.conf = conf
        self.tr = Tracer(traced)
        self.ledger = Ledger()
        # steal-adjusted latencies (the metrics); raw (wall, steal share)
        self.lat: dict[str, list[float]] = {k: [] for k in SPAN_OF}
        self.raw_lat: dict[str, list[tuple]] = {k: [] for k in SPAN_OF}
        self.records: list[tuple] = []  # (op, answer) of the query window
        self.deleted: set[int] = set()
        self.update_s: list[float] = []
        self.fresh_s: list[float] = []
        self.writes: list[tuple[str, set, set]] = []  # (marker, changed, deleted)
        self.units_seen: list[int] = []
        self.phase: dict[str, host.StealClock] = {}

    # --- set-up -----------------------------------------------------------

    def setup(self) -> None:
        from bliss_rs_spark.config import IndexConfig
        from bliss_rs_spark.corpus import synth_documents, with_invariants
        from bliss_rs_spark.operators.wand import WandServer
        from bliss_rs_spark.plans.lifecycle import build_full
        from bliss_rs_spark.session import get_spark
        from bliss_rs_spark.sources.index_store import IndexStore

        tr = self.tr
        with tr.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=self.conf
            )
        tr.attach(self.spark.sparkContext)
        self.steal0 = host.steal_seconds()
        docs = with_invariants(synth_documents(self.spark, N_DOCS, self.seed)).cache()
        # doc_id -> source row; the writes and the oracle work from this copy
        self.rows = {
            int(r["doc_id"]): tuple(r[c] for c in DOC_COLS)
            for r in docs.select("doc_id", *DOC_COLS).collect()
        }
        texts = [self.rows[d][-1] for d in sorted(self.rows)]
        self.input_bytes = sum(len(t.encode("utf-8")) for t in texts)
        self.ops = build_mix(texts, self.seed, max(1, round(self.seconds / ROUND_S)))

        self.cfg = IndexConfig(**LAYOUT)
        self.store = IndexStore(os.path.join(self.work, "store"))
        with host.StealClock() as self.build_clock, tr.span("lifecycle.build_full"):
            build_full(self.spark, docs, self.store, self.cfg)
        docs.unpersist()
        n = self.store.meta()["n_docs"]
        self.ledger.op(n == N_DOCS, f"build_full: n_docs {n} != {N_DOCS}")
        self.n_docs = n
        if self.workload == "churn":
            self.write(0)

        with tr.span("wand.from_store"):
            self.wand = WandServer.from_store(self.spark, self.store)
        for kind in SPAN_OF:  # warm the server and the search path once
            op = next(o for o in self.ops if o.kind == kind)
            with tr.span(SPAN_OF[kind]):
                self._call(op)

    # --- the query window -------------------------------------------------

    def _call(self, op):
        if op.kind == "wand":
            return self.wand.query(op.text, op.k)
        from bliss_rs_spark.plans.lifecycle import search_index

        rows = search_index(self.spark, self.store, op.text, op.k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def window(self) -> None:
        """Closed loop over the seeded mix."""
        for op in self.ops:
            try:
                with host.StealClock() as clock, self.tr.span(SPAN_OF[op.kind]):
                    ans = self._call(op)
            except Exception as e:  # an op that raises is a failed op
                self.ledger.op(False, f"{op.kind} {op.text!r} raised {e!r}")
                continue
            self.lat[op.kind].append(clock.adjusted)
            self.raw_lat[op.kind].append((clock.wall, clock.steal_share))
            self.records.append((op, ans))

    def check_window(self) -> None:
        """Check every window answer against the driver-side oracle over
        the same live corpus: once per distinct query, untimed."""
        live = {d: row[-1] for d, row in self.rows.items()}
        oracle = Oracle(live, self.store.meta()["avgdl"], self.cfg.k1, self.cfg.b)
        verdict: dict[tuple, str] = {}
        for op, ans in self.records:
            key = (op.kind, op.text, op.k)
            if key not in verdict:
                if op.kind == "wand":
                    ok = topk_matches(ans, oracle.bm25_topk(op.text, op.k))
                else:
                    scores = [s for _, s in ans]
                    ok = (len(ans) <= op.k and scores == sorted(scores, reverse=True)
                          and {d for d, _ in ans} <= live.keys())
                verdict[key] = "" if ok else f"{op.kind} {op.text!r} answer mismatch"
            why = verdict[key] or (
                f"{op.kind} {op.text!r} returned a deleted doc"
                if {d for d, _ in ans} & self.deleted else ""
            )
            self.ledger.op(not why, why)
        self.n_checked = len(verdict)

    # --- writes -----------------------------------------------------------

    def write(self, c: int) -> float:
        """Write ``c``: re-supply the corpus with ~1% of docs changed (each
        carrying the write's marker term) and ~0.5% gone, then
        ``update_index`` + ``maintain`` + ``gc``.  Returns the
        perf_counter time at which ``update_index`` started."""
        from bliss_rs_spark.corpus import DOCS_SCHEMA, with_invariants
        from bliss_rs_spark.plans.lifecycle import maintain, update_index

        spark, store, tr = self.spark, self.store, self.tr
        marker = f"zqmark{self.seed}c{c}"
        rng = random.Random(f"{self.seed}:{c}")
        ids = sorted(self.rows)
        touched = rng.sample(ids, round(len(ids) * (CHANGED_SHARE + DELETED_SHARE)))
        changed = set(touched[: round(len(ids) * CHANGED_SHARE)])
        deleted = set(touched) - changed
        for d in changed:
            *head, content = self.rows[d]
            self.rows[d] = (*head, f"{content}\n// {marker}")
        for d in deleted:
            del self.rows[d]
        incoming = with_invariants(spark.createDataFrame(
            [self.rows[d] for d in sorted(self.rows)], DOCS_SCHEMA
        ))

        t0 = time.perf_counter()
        with tr.span("lifecycle.update_index"):
            update_index(spark, incoming, store, repack="segment",
                         delete_missing=True, auto_maintain=False)
        with tr.span("lifecycle.maintain"):
            actions = maintain(spark, store)
        self.update_s.append(time.perf_counter() - t0)
        tr.note("lifecycle.maintain.folds", 1.0 if actions else 0.0)
        with open(os.path.join(store.snapshot_dir(), "metrics.json")) as f:
            tr.note("lifecycle.update_index.docs_processed",
                    float(json.load(f).get("docs_processed", 0)))
        with tr.span("index_store.gc"):
            removed = store.gc(keep_last=2)
        tr.note("index_store.gc.snapshots_removed",
                float(sum(1 for r in removed if "/" not in r)))

        self.deleted |= deleted
        self.writes.append((marker, changed, deleted))
        self.ledger.op(True)  # update_index + maintain
        n = store.meta()["n_docs"]
        self.ledger.op(n == self.n_docs - len(deleted),
                       f"write {c}: n_docs {n} != {self.n_docs - len(deleted)}")
        self.n_docs = n
        self.units_seen.append(len(store.packed_units(spark)))
        return t0

    def check_markers(self) -> None:
        """Each write's marker finds exactly that write's changed docs and
        no deleted doc (untimed)."""
        for marker, changed, deleted in self.writes:
            got = {d for d, _ in self.wand.query(marker, MARKER_K)}
            self.ledger.op(got == changed, f"{marker}: answer != changed docs")
            self.ledger.op(not got & deleted, f"{marker}: answer has deleted docs")

    def refresh_cycle(self) -> None:
        """One more write, then refresh the live server.  Freshness ends at
        the refreshed server's first answer holding the write's marker."""
        t0 = self.write(len(self.writes))
        marker, changed, _ = self.writes[-1]
        with self.tr.span("wand.refresh"):
            info = self.wand.refresh(self.store)
        reused, rebuilt = len(info["reused_units"]), len(info["rebuilt_units"])
        self.tr.note("wand.refresh.reused_unit_ratio", reused / max(reused + rebuilt, 1))
        self.ledger.op(True)
        with self.tr.span("wand.query"):
            got = {d for d, _ in self.wand.query(marker, MARKER_K)}
        self.fresh_s.append(time.perf_counter() - t0)
        self.ledger.op(got == changed, f"{marker}: refreshed answer != changed docs")

    # --- whole run --------------------------------------------------------

    def run(self) -> None:
        for name, fn in (("setup", self.setup), ("window", self.window),
                         ("checks", self.check_window), ("markers", self.check_markers)):
            with host.StealClock() as self.phase[name]:
                fn()

    def traced_extras(self) -> None:
        """Traced runs only, after the end-to-end figures are taken: one
        refresh cycle and the two ingest layers called directly, forced."""
        from bliss_rs_spark.corpus import DOCS_SCHEMA, with_invariants
        from bliss_rs_spark.operators.build_index import build_index_frames
        from bliss_rs_spark.operators.pack import build_packed_index_full

        with host.StealClock() as self.phase["traced_extras"]:
            self.refresh_cycle()
            docs = with_invariants(
                self.spark.createDataFrame(list(self.rows.values()), DOCS_SCHEMA)
            )
            with self.tr.span("build_index.build_index_frames"):
                idx = build_index_frames(docs, self.cfg)
                idx.postings.count()
                idx.term_stats.count()
            with self.tr.span("pack.build_packed_index_full"):
                packed, doc_map = build_packed_index_full(
                    idx.postings, idx.term_stats, idx.n_docs, idx.avgdl, self.cfg
                )
                packed.count()
            if doc_map is not None:
                doc_map.unpersist()

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        total, self.frame_bytes = store_bytes(self.store.path)
        self.rss = host.peak_rss_parts_mb()
        return {
            "setup_s": (self.phase["setup"].adjusted, "s"),
            "wand_p50_ms": (median(self.lat["wand"]) * 1000.0, "ms"),
            "search_p50_ms": (median(self.lat["search"]) * 1000.0, "ms"),
            "build_docs_per_s": (N_DOCS / self.build_clock.adjusted, "docs/s"),
            "store_bytes_per_input_byte": (total / self.input_bytes, "ratio"),
            "peak_rss_mb": (
                self.rss["driver"] + self.rss["jvm"] + self.rss["workers"], "MB"
            ),
            "ok_op_ratio": (
                1.0 - self.ledger.failed / max(self.ledger.attempted, 1), "ratio"
            ),
        }

    def diagnostics(self) -> dict:
        return {
            "workload": self.workload,
            "seed": self.seed,
            "nproc": len(os.sched_getaffinity(0)),
            "n_docs": N_DOCS,
            "steal_s": host.steal_seconds() - self.steal0,
            "jvm_gc_s": host.jvm_gc_seconds(self.spark),
            "samples": {k: summary(v) for k, v in self.lat.items()},
            "raw_latency_ms_and_steal_share": {
                k: [(round(w * 1000.0, 1), round(sh, 3)) for w, sh in v]
                for k, v in self.raw_lat.items()
            },
            "raw_build_s": self.build_clock.wall,
            "repeat_share": repeat_share([op for op, _ in self.records]),
            "distinct_checked": self.n_checked,
            "update_s": self.update_s,
            "freshness_s": self.fresh_s,
            "units_after_writes": self.units_seen,
            "peak_rss_parts_mb": self.rss,
            "phase_wall_s": {k: c.wall for k, c in self.phase.items()},
            "phase_steal_share": {k: c.steal_share for k, c in self.phase.items()},
            "attempted": self.ledger.attempted,
            "failed": self.ledger.failed,
            "failed_op_ratio": self.ledger.failed / max(self.ledger.attempted, 1),
            "failures": self.ledger.failures[:20],
        }

    def layer_inputs(self) -> tuple[dict, dict]:
        """Extras and per-frame store ratios for the per-layer table."""
        frames = {k: v / self.input_bytes for k, v in self.frame_bytes.items()}
        return self.tr.extras, frames
