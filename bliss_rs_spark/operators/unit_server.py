"""One serving core: the unit lifecycle WandServer, PhraseServer and
TrigramServer share.

A served index is a list of UNITS: the base pack plus one pack per store
segment.  A server keeps ONE persisted frame per unit, hash-repartitioned
by doc shard, so every (unit, shard) group lies wholly inside one cached
partition BY CONSTRUCTION.  A recomputed partition (executor loss) replays
the same deterministic exchange, so correctness never depends on file
layout or session confs.  The per-query plan is scan -> filter ->
mapInPandas over the cached partitions: no shuffle and no broadcast
exchange (pinned by tests/test_plans.py).

What differs per server is its unit-frame builder, its warm hook and its
query kernels; everything else lives here once:

- **Warm-up.**  New unit frames warm in one overlapped batch of jobs (the
  server's warm hook per unit, which also materializes the cache) together
  with the dead-set collect.  The base unit gets full parallelism; later
  (small) segment units an eighth of it, so per-query task count stays
  bounded (maintain() bounds unit fan-out).
- **Tombstones.**  Per-(unit, shard) dead sets are computed DISTRIBUTED
  over the churn-sized tombstones frame and shipped ONCE per (re)point as a
  broadcast variable keyed by (unit, shard).  A per-query broadcast JOIN
  re-collected and re-shipped the same bytes on every query's fresh plan
  (~0.6 s/query at 1M docs / 7 units) and put a BroadcastExchange in the
  serving plan.  Size is bounded by maintain()'s tombstone ceilings;
  compact_full resets it.
- **Filters.**  A named filter is encoded once per registration, as one
  delta+varbyte doc-id blob per doc shard plus an allow/deny mode; only the
  encoded bytes reach the driver.  Doc ids are stable across snapshots, so
  refresh() keeps filters as they are.
- **refresh(store).**  Re-points a live server at the store's CURRENT
  snapshot.  An unchanged snapshot is a no-op that runs no job.  Otherwise
  a unit whose content fingerprint ((relpath, inode, size) of its packed
  dir; hard-linked carry preserves inodes) is unchanged keeps its cached
  frame verbatim, new or changed units rebuild and warm, and vanished units
  (compaction) unpersist: a 1%-delta segment update costs the delta, never
  a full re-cache.
- **gc() pins.**  Reused frames keep reading the files they were built
  from, so the server pins every snapshot a cached frame still reads: the
  current one, plus WAND's reused base unit's source snapshot.  Phrase and
  Trigram units read segment-keyed derived caches that the current
  snapshot keeps alive, so they pin only the current snapshot.
- **Derived unit caches.**  Phrase and Trigram pack each segment's rows
  into ``<store>/derived/<pos_units|tri_units>/<segment>``, keyed by the
  immutable segment name, so pack work over the store's lifetime is
  O(corpus), not O(corpus x snapshots).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.functions.placement import doc_shard
from bliss_rs_spark.sources.index_store import _run_parallel, dir_fingerprint


def _id_sets_df(rows: DataFrame, keys: tuple[str, ...], col: str) -> DataFrame:
    """(keys..., doc_id) rows -> one row per key whose ``col`` holds the
    key's sorted unique doc ids as ONE delta+varbyte blob.  The single
    encoder behind dead sets, batch allow sets and server filters."""

    def _enc(key, pdf):
        from bliss_rs_spark.functions.codec import encode_doc_ids

        out = {k: [int(v)] for k, v in zip(keys, key)}
        out[col] = [encode_doc_ids(np.unique(pdf["doc_id"].to_numpy(np.int64)))]
        return pd.DataFrame(out)

    schema = ", ".join(f"{k} int" for k in keys) + f", {col} binary"
    return rows.groupBy(*keys).applyInPandas(_enc, schema)


def _dead_sets_df(tomb_df: DataFrame, seqs, n_doc_shards: int) -> DataFrame:
    """(unit, shard, dead): each (unit, shard)'s tombstoned doc_ids as one
    encoded row, computed DISTRIBUTED over the churn-sized (doc_id,
    before_seq) tombstones frame.  A doc is dead in unit seq iff
    before_seq > seq.  The result co-groups / co-partitions with the packed
    rows it masks, so no query path materializes the tombstone set on the
    driver."""
    parts = None
    for seq in seqs:
        pp = tomb_df.filter(F.col("before_seq") > F.lit(int(seq))).select(
            F.lit(int(seq)).alias("unit"),
            doc_shard(n_doc_shards).alias("shard"),
            "doc_id",
        )
        parts = pp if parts is None else parts.unionByName(pp)
    return _id_sets_df(parts, ("unit", "shard"), "dead")


class _UnitServer:
    """Base of the warm servers; see the module docstring for the lifecycle.

    A subclass sets ``_key_col`` (the column a query's terms/grams filter)
    and implements ``_build_unit_frame(unit, n_parts)`` (one unit's
    persisted frame; ``unit[0]`` is its seq) and ``_warm_unit(seq)`` (runs
    on each new frame; its result lands in ``_unit_warm[seq]``).  A server
    whose units are packed from store rows sets ``_unit_source`` to (the
    segment frame name, the derived cache dir) and implements
    ``_pack_unit(rows, cfg)``; ``_unit_source = None`` serves the store's
    own packed units."""

    _key_col = "term"
    _null_key_rows = False  # NULL-key rows (WAND doc-map sentinels) ride every scan
    _unit_source: tuple[str, str] | None = None
    _base_reads_snapshot = False  # the base unit reads the snapshot dir itself
    _store_mode = False  # refresh() allowed

    def _init_units(
        self,
        spark: SparkSession,
        units: list[tuple],
        target_partitions: int | None,
        n_doc_shards: int,
        tombstones: DataFrame | None,
        *warm_also,
    ) -> None:
        self.spark = spark
        if target_partitions is None:
            target_partitions = spark.sparkContext.defaultParallelism
        self._target_partitions = max(int(target_partitions), 1)
        self._n_doc_shards = int(n_doc_shards)
        self._units = units
        self._unit_fps: dict[int, tuple] = {}  # content fingerprints (from_store)
        self._unit_snaps: dict[int, str | None] = {}  # snapshot a frame reads
        self._unit_warm: dict[int, object] = {}  # _warm_unit results
        self._pins: dict[str, str] = {}  # snapshot -> gc() pin file
        self._store_snapshot: str | None = None
        self._filters: dict[str, tuple] = {}  # name -> (bc, mode, frame)
        self._dead_bc = None  # broadcast {(unit, shard): encoded dead ids}
        self._unit_frames: dict[int, DataFrame] = {
            u[0]: self._build_unit_frame(u, self._unit_partitions(i))
            for i, u in enumerate(units)
        }
        self._warm(
            list(self._unit_frames),
            lambda: self._set_tombstones(tombstones),
            *warm_also,
        )

    def _unit_partitions(self, index_in_units: int) -> int:
        if index_in_units == 0:
            return self._target_partitions
        return max(1, self._target_partitions // 8)

    def _warm(self, seqs: list[int], *also) -> None:
        """Warm the listed units plus the ``also`` actions as one
        overlapped batch of jobs."""
        fns = [(lambda q=seq: self._warm_unit(q)) for seq in seqs]
        out = _run_parallel(fns + list(also))
        self._unit_warm.update(zip(seqs, out))

    def _set_tombstones(self, tombstones: DataFrame | None) -> None:
        """Collect the dead sets (one job) and broadcast them; no dead rows
        leaves ``_dead_bc`` None.  Callers decide "any tombstones?" from
        parquet footers (store.has_tombstones) before they get here."""
        old, self._dead_bc = self._dead_bc, None
        self._tomb_df = tombstones
        if tombstones is not None:
            rows = _dead_sets_df(
                tombstones, list(self._unit_frames), self._n_doc_shards
            ).collect()
            if rows:
                self._dead_bc = self.spark.sparkContext.broadcast(
                    {(int(r["unit"]), int(r["shard"])): bytes(r["dead"]) for r in rows}
                )
        if old is not None:
            old.unpersist()

    # -- named filters ---------------------------------------------------------

    def _put_filter(self, name: str, ids: DataFrame, mode: str) -> None:
        """Encode the (doc_id) frame ``ids`` DISTRIBUTED as one blob per doc
        shard and ship it once as a broadcast {shard: blob}.  ``mode`` says
        whether the ids are the permitted docs ('allow') or the excluded
        ones ('deny')."""
        if mode not in ("allow", "deny"):
            raise ValueError(f"mode must be 'allow' or 'deny', got {mode!r}")
        rows = _id_sets_df(
            ids.select(doc_shard(self._n_doc_shards).alias("shard"), "doc_id"),
            ("shard",),
            "ids",
        ).collect()
        bc = self.spark.sparkContext.broadcast(
            {int(r["shard"]): bytes(r["ids"]) for r in rows}
        )
        self.drop_filter(name)
        self._filters[name] = (bc, mode, ids)

    def drop_filter(self, name: str) -> None:
        old = self._filters.pop(name, None)
        if old is not None:
            old[0].unpersist()

    def _filter(self, name: str | None) -> tuple | None:
        """-> (broadcast {shard: blob}, mode) of a registered filter, small
        enough to ride a kernel closure; None when no filter is asked for."""
        if name is None:
            return None
        if name not in self._filters:
            raise KeyError(f"unknown filter {name!r}; set_filter first")
        return self._filters[name][:2]

    # -- query -----------------------------------------------------------------

    def _scan(self, keys: list[str]) -> DataFrame:
        """Per-query frame: every unit's cached partitions filtered to the
        query's keys.  Only narrow operations (union concatenates child
        partitions), so the plan stays exchange-free."""
        flt = F.col(self._key_col).isin(keys)
        if self._null_key_rows:
            flt = flt | F.col(self._key_col).isNull()
        u = None
        for seq in sorted(self._unit_frames):
            pf = self._unit_frames[seq].filter(flt)
            u = pf if u is None else u.unionByName(pf)
        return u

    # -- store binding ---------------------------------------------------------

    @staticmethod
    def _store_tombstones(spark: SparkSession, store) -> DataFrame | None:
        return store.tombstone_frame(spark) if store.has_tombstones(spark) else None

    @classmethod
    def _store_units(cls, spark: SparkSession, store) -> tuple[list[tuple], dict]:
        """The CURRENT snapshot's units and their content fingerprints:
        the store's own packed units, or one derived-cache unit per
        referenced segment carrying the unit source frame (a single unit
        keyed by the snapshot for layout-1 stores)."""
        if cls._unit_source is None:
            return store.packed_units(spark), store.packed_unit_fingerprints()
        frame = cls._unit_source[0]
        meta = store.meta()
        if "segments" in meta:
            srcs = [
                (store.seg_seq(seg), seg, os.path.join(store.segments_dir, seg, frame))
                for seg in meta["segments"]
            ]
        else:
            srcs = [(0, "snap_" + store.current_snapshot(),
                     os.path.join(store.snapshot_dir(), frame))]
        units: list[tuple] = []
        fps: dict[int, tuple] = {}
        for seq, key, src in srcs:
            if not os.path.isdir(src):
                continue
            cache = cls._ensure_unit_cache(spark, store, key, src)
            units.append((seq, spark.read.parquet(cache)))
            fps[seq] = dir_fingerprint(cache)
        return units, fps

    @classmethod
    def _ensure_unit_cache(cls, spark: SparkSession, store, key: str, src_dir: str) -> str:
        """Pack one unit's rows into ``<store>/derived/<dir>/<key>`` unless
        already there; returns the cache path.  Written to a temp dir and
        renamed into place, so concurrent first-servers race benignly;
        gc() prunes caches of unreferenced segments."""
        import shutil
        import uuid

        from bliss_rs_spark.sources.index_store import _ensure_schema_file

        cache = os.path.join(store.path, "derived", cls._unit_source[1], key)
        if not os.path.isdir(cache):
            packed = cls._pack_unit(spark.read.parquet(src_dir), store.config())
            tmp = cache + ".tmp-" + uuid.uuid4().hex[:8]
            packed.write.mode("overwrite").parquet(tmp)
            _ensure_schema_file(packed, tmp)
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            try:
                os.rename(tmp, cache)
            except OSError:
                # another server won the race; its pack is equivalent
                shutil.rmtree(tmp, ignore_errors=True)
        return cache

    def _source_snapshot(self, index_in_units: int, snap: str | None) -> str | None:
        return snap if index_in_units == 0 and self._base_reads_snapshot else None

    def _attach_store(self, store, fps: dict[int, tuple]) -> None:
        """Bind a from_store server to the CURRENT snapshot: the unit
        fingerprints refresh() reuses by, and its gc() pins."""
        snap = store.current_snapshot()
        self._unit_fps = fps
        self._store_snapshot = snap
        self._unit_snaps = {
            u[0]: self._source_snapshot(i, snap) for i, u in enumerate(self._units)
        }
        self._sync_pins(store)

    def _sync_pins(self, store) -> None:
        """Hold exactly one gc() pin per snapshot a cached frame still
        reads (plus the current snapshot, which keeps every segment alive)."""
        need = {s for s in self._unit_snaps.values() if s}
        if self._store_snapshot:
            need.add(self._store_snapshot)
        for snap in need - set(self._pins):
            self._pins[snap] = store.pin_snapshot(snap, note=type(self).__name__)
        for snap in set(self._pins) - need:
            store.release_pin(self._pins.pop(snap))

    def _refresh_extras(self, store) -> None:
        """Hook: re-point per-snapshot state beyond the units."""

    def refresh(self, store) -> dict:
        """Re-point this live server at the store's CURRENT snapshot,
        reusing every unit whose fingerprint is unchanged.  Returns
        {"reused_units": [...], "rebuilt_units": [...]}."""
        if not self._store_mode:
            raise ValueError(
                f"refresh() requires a {type(self).__name__} built by from_store()"
            )
        snap = store.current_snapshot()
        if snap == self._store_snapshot:
            # nothing committed since this server (re-)pointed here
            return {"reused_units": sorted(self._unit_frames), "rebuilt_units": []}
        units, fps = self._store_units(self.spark, store)
        reused: list[int] = []
        rebuilt: list[int] = []
        frames: dict[int, DataFrame] = {}
        snaps: dict[int, str | None] = {}
        for i, unit in enumerate(units):
            seq = unit[0]
            old_fp = self._unit_fps.get(seq)
            if seq in self._unit_frames and old_fp is not None and old_fp == fps.get(seq):
                frames[seq] = self._unit_frames[seq]
                snaps[seq] = self._unit_snaps.get(seq)
                reused.append(seq)
            else:
                frames[seq] = self._build_unit_frame(unit, self._unit_partitions(i))
                snaps[seq] = self._source_snapshot(i, snap)
                rebuilt.append(seq)
        for seq, f in self._unit_frames.items():
            if frames.get(seq) is not f:
                f.unpersist()
                self._unit_warm.pop(seq, None)
        self._units = units
        self._unit_frames = frames
        self._unit_fps = fps
        self._unit_snaps = snaps
        self._store_snapshot = snap
        self._sync_pins(store)
        self._refresh_extras(store)
        tombstones = self._store_tombstones(self.spark, store)
        self._warm(rebuilt, lambda: self._set_tombstones(tombstones))
        return {"reused_units": reused, "rebuilt_units": rebuilt}

    def close(self) -> None:
        """Release every cached frame, broadcast and gc() pin."""
        for f in self._unit_frames.values():
            f.unpersist()
        self._unit_frames = {}
        self._unit_warm = {}
        if self._dead_bc is not None:
            self._dead_bc.unpersist()
            self._dead_bc = None
        for name in list(self._filters):
            self.drop_filter(name)
        for path in self._pins.values():
            try:
                os.remove(path)
            except OSError:
                pass
        self._pins = {}
