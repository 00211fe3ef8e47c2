"""Versioned on-disk index store: immutable SEGMENTS + snapshot directories
referencing them + an atomic CURRENT pointer.

Iceberg-style semantics without the Iceberg dependency (the jar is not in
this image; the layout is designed so swapping the directory sink for
``spark.read.format("iceberg")`` tables is a one-module change):

    index_dir/
      CURRENT            -> "v00003"  (atomic os.replace of a one-line file)
      segments/
        seg_000001/      IMMUTABLE per-batch data, shared across snapshots
          postings/      parquet partitioned by term_bucket (query pruning)
          doc_stats/     parquet (doc_id, repo, path, ..., dl, sha256)
          manifest/      parquet (doc_id, sha256, analyzer_version, status)
          errors/        parquet failure ledger (src/library.rs:1639-1668)
          positional/    parquet (only when cfg.store_positions)
      v00003/
        config.json      engine config + corpus stats + versions + the
                         ordered ``segments`` list this snapshot references
                         (the BaseConfig analogue, /root/reference/src/
                         library.rs:263-281)
        metrics.json     build metrics (docs/sec, postings/sec, skew ratio —
                         the progress-counter analogue, src/library.rs:1204-1287)
        term_stats/      parquet (vocab-sized, rewritten per snapshot)
        packed/          parquet partitioned by doc shard (WAND path);
                         shards untouched by an incremental update are
                         HARD-LINKED from the previous snapshot, not rewritten
        doc_map/         parquet (one row per shard; ordinal translation)
        tombstones/      parquet (doc_id, before_seq): doc_id's rows are
                         dead in every segment with seq < before_seq —
                         the Iceberg delete-file analogue; how an update
                         "removes" rows from immutable old segments
      _checkpoints/
        tokenized/       appended per build batch; the resumable intermediate
                         (SURVEY.md §4.4: per-partition checkpoints w/ lineage)

Logical frames ``postings / doc_stats / manifest / errors / positional`` are
VIEWS: the union of the referenced segments with the tombstone anti-filter
applied (a broadcast-size join — tombstones grow with churn, not corpus, and
compaction via build_full resets them).  This is what makes incremental
updates O(delta): a new batch writes ONE new segment + small snapshot
frames + repacks only the doc-shards it touched.

A reader always goes through CURRENT, so a killed writer leaves the store on
the previous snapshot (the transactional-upsert semantics of the reference's
per-song SQLite transactions, src/library.rs:1544-1633, at snapshot
granularity).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from bliss_rs_spark.config import IndexConfig

SEGMENT_FRAMES = (
    "postings", "doc_stats", "manifest", "errors", "positional", "trigram"
)
SNAPSHOT_FRAMES = ("term_stats", "packed", "doc_map", "tombstones")
FRAMES = SEGMENT_FRAMES + SNAPSHOT_FRAMES

TOMBSTONE_SCHEMA = "doc_id long, before_seq int"

_NO_CHECK = object()  # commit_snapshot sentinel: skip the parent CAS check


def _run_parallel(fns, max_workers: int = 4) -> list:
    """Run independent Spark actions from a small driver thread pool so
    their jobs overlap (guide §2.6: actions are only sequential because the
    driver calls them sequentially; concurrent jobs back-fill executors
    freed by another job's straggler tail).  Used for the per-frame writes
    of a segment/snapshot — each frame goes to its own directory, so the
    actions are fully independent; shared cached parents are computed once
    (block-manager locking).  ``inheritable_thread_target`` propagates the
    JVM thread-locals (job group/description) per the PySpark docs; given
    the active session it carries the caller's job tags too (without one,
    PySpark warns "Spark session is not provided" and drops them)."""
    if len(fns) == 1:
        return [fns[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target as _itt

    session = SparkSession.getActiveSession()
    wrap = _itt(session) if session is not None else _itt
    if wrap is session:  # pinned-thread mode off: no thread-locals to carry
        wrap = _itt

    with ThreadPoolExecutor(max_workers=min(max_workers, len(fns))) as pool:
        futs = [pool.submit(wrap(fn)) for fn in fns]
        return [f.result() for f in futs]


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a snapshot since this writer read its state.

    The Iceberg optimistic-concurrency analogue: a commit validates that
    CURRENT still points at the snapshot it derived from; on conflict the
    losing writer's staged snapshot is discarded (the store stays on the
    winner) and the caller re-reads and retries — silently overwriting the
    other writer's snapshot would drop its delta."""


def _link_tree(src: str, dst: str) -> None:
    """Recursively hard-link src into dst (same filesystem by construction:
    both live under the store root).  Carrying a parquet partition forward
    costs one inode link per file — no data movement, and deleting the old
    snapshot later just drops link counts."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.scandir(src):
        d = os.path.join(dst, entry.name)
        if entry.is_dir():
            _link_tree(entry.path, d)
        else:
            os.link(entry.path, d)


def _ensure_schema_file(df: DataFrame, out: str) -> None:
    """Guarantee ``out`` holds at least one schema-bearing parquet file.

    An empty frame (all-failed batch, empty delta, segment-mode packed
    placeholder) coalesced by AQE to zero tasks writes only _SUCCESS; the
    next read of that directory then fails on schema inference.  When no
    part file landed, write the (empty) frame again via one forced task —
    the one-row-group file costs nothing and keeps every segment/snapshot
    frame independently readable."""
    for root, _dirs, files in os.walk(out):
        if any(f.endswith(".parquet") for f in files):
            return
    df.sparkSession.createDataFrame([], df.schema).repartition(1).write.mode(
        "overwrite"
    ).parquet(out)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """Read schema of the parquet dir ``path``, taken the way Spark's own
    ``mergeSchema=false`` inference takes it (one footer) but on the driver
    with pyarrow, so no Spark job runs: the Spark schema every Spark writer
    stores in the footer's key-value metadata, nullable like every file
    source read, then one int column per ``k=v`` partition directory on the
    way to that file.  None when the dir has no data file, the file was
    not written by Spark, or a partition value is not an int; the caller
    then lets Spark infer."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    for root, dirs, files in os.walk(path):
        # Spark skips _temporary/.staging dirs and files alike
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(
            f for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if data:
            break
    else:
        return None
    kv = pq.read_metadata(os.path.join(root, data[0])).metadata or {}
    if _SPARK_SCHEMA_KEY not in kv:
        return None
    fields = [
        StructField(f.name, f.dataType, True, f.metadata)
        for f in StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY])).fields
    ]
    for part in os.path.relpath(root, path).split(os.sep):
        if part == ".":
            continue
        name, _, value = part.partition("=")
        try:
            if not name or not -(2**31) <= int(value) < 2**31:
                return None
        except ValueError:
            return None
        fields.append(StructField(name, IntegerType(), True))
    return StructType(fields)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job, the
    schema coming from _footer_schema: the store's frame reads go here."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _pid_alive(pid: int) -> bool:
    """Is a process with this pid running on THIS host?  (Signal-0 probe;
    EPERM still means alive.)"""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True  # indeterminate: treat as alive (pins stay safe)
    return True


def dir_fingerprint(d: str) -> tuple:
    """Content identity of a parquet dir: sorted (relpath, inode, size) over
    data files only (_SUCCESS markers and .crc sidecars are regenerated per
    write and carry no content).  Hard links preserve inodes, so a carried
    partition fingerprints identically across snapshots — the reuse test
    behind WandServer.refresh() and PhraseServer.refresh()."""
    out = []
    if os.path.isdir(d):
        for root, _, files in os.walk(d):
            for f in files:
                if f.startswith(".") or f.startswith("_") or f.endswith(".crc"):
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, d), st.st_ino, st.st_size))
    return tuple(sorted(out))


class IndexStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # --- snapshot pointer ----------------------------------------------------

    def current_snapshot(self) -> str | None:
        cur = os.path.join(self.path, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return f.read().strip() or None

    def _next_snapshot_name(self) -> str:
        # derive from max(existing snapshot dirs), not CURRENT+1: a crash
        # between os.replace(stage, final) and the CURRENT write leaves an
        # orphaned vNNNNN dir, and CURRENT+1 would then collide with it
        # forever (ENOTEMPTY on every later commit — store wedged)
        snaps = self.snapshots()
        cur = self.current_snapshot()
        hi = max(
            max((int(s[1:]) for s in snaps), default=0),
            int(cur[1:]) if cur else 0,
        )
        return f"v{hi + 1:05d}"

    def snapshot_dir(self, name: str | None = None) -> str:
        name = name or self.current_snapshot()
        if name is None:
            raise FileNotFoundError(f"no snapshot in index store {self.path}")
        return os.path.join(self.path, name)

    # --- read ------------------------------------------------------------------

    def meta(self) -> dict:
        with open(os.path.join(self.snapshot_dir(), "config.json")) as f:
            return json.load(f)

    def config(self) -> IndexConfig:
        return IndexConfig.from_json(json.dumps(self.meta()["config"]))

    @staticmethod
    def seg_seq(seg_name: str) -> int:
        return int(seg_name.split("_")[1])

    def load(self, spark: SparkSession, frame: str) -> DataFrame:
        """Logical frame of the CURRENT snapshot.

        Snapshot frames read straight from the snapshot dir.  Segment frames
        are assembled as the union of the referenced segments with the
        tombstone filter applied: a row of segment seq s survives unless a
        tombstone (doc_id, before_seq) with s < before_seq covers it.  The
        tombstone join is broadcast-size (churned docs, not corpus) and is
        left out when the footers count no tombstone.  Every read takes its
        schema from a footer (read_parquet), so building a frame runs no
        Spark job."""
        assert frame in FRAMES, frame
        meta = self.meta()
        if "segments" not in meta or frame in SNAPSHOT_FRAMES:
            # snapshot frame, or any frame of a layout-1 (pre-segment) store
            return read_parquet(spark, os.path.join(self.snapshot_dir(), frame))
        dead = self.tombstone_rows() != 0  # None (no pyarrow): assume some
        parts = None
        for seg in meta["segments"]:
            p = os.path.join(self.segments_dir, seg, frame)
            if not os.path.isdir(p):
                continue
            df = read_parquet(spark, p)
            if dead:
                df = df.withColumn("_seg_seq", F.lit(self.seg_seq(seg)))
            parts = df if parts is None else parts.unionByName(df)
        if parts is None:
            raise FileNotFoundError(
                f"frame {frame} exists in no referenced segment of {self.path}"
            )
        if not dead:
            return parts
        tomb = self.load(spark, "tombstones")
        return (
            parts.join(F.broadcast(tomb), "doc_id", "left")
            .filter(
                F.col("before_seq").isNull()
                | (F.col("_seg_seq") >= F.col("before_seq"))
            )
            .drop("before_seq", "_seg_seq")
        )

    # --- write -----------------------------------------------------------------

    @property
    def segments_dir(self) -> str:
        return os.path.join(self.path, "segments")

    def segments(self) -> list[str]:
        d = self.segments_dir
        if not os.path.isdir(d):
            return []
        return sorted(s for s in os.listdir(d) if s.startswith("seg_"))

    def next_segment_name(self) -> str:
        hi = max((self.seg_seq(s) for s in self.segments()), default=0)
        return f"seg_{hi + 1:06d}"

    def write_segment(self, frames: dict[str, DataFrame], name: str | None = None) -> str:
        """Write one immutable segment (staged, then atomically renamed).

        Orphaned segments from a crash-before-commit are invisible (no
        snapshot references them) and collected by gc()."""
        name = name or self.next_segment_name()
        os.makedirs(self.segments_dir, exist_ok=True)
        stage = os.path.join(self.segments_dir, f"_staging_{name}")
        if os.path.exists(stage):
            shutil.rmtree(stage)
        os.makedirs(stage)
        def _write_one(fname: str, df: DataFrame) -> None:
            assert fname in SEGMENT_FRAMES, fname
            out = os.path.join(stage, fname)
            if fname in ("postings", "positional") and "term_bucket" in df.columns:
                df.sortWithinPartitions("term", "doc_id").write.mode(
                    "overwrite"
                ).partitionBy("term_bucket").parquet(out)
            elif fname == "trigram":
                # gram-bucket partition dirs: substring queries prune to
                # their grams' buckets exactly like term queries
                df.sortWithinPartitions("gram", "doc_id").write.mode(
                    "overwrite"
                ).partitionBy("gram_bucket").parquet(out)
            elif fname == "errors":
                # one task guaranteed -> an empty ledger still writes a
                # schema-bearing file
                df.repartition(1).write.mode("overwrite").parquet(out)
            else:
                df.write.mode("overwrite").parquet(out)
            _ensure_schema_file(df, out)

        try:
            # independent per-frame writes overlap from a driver thread pool
            # (guide §2.6); the shared tokenized parent is cached by the
            # caller, so it is computed once whichever write gets there first
            _run_parallel([
                (lambda f=fname, d=df: _write_one(f, d))
                for fname, df in frames.items()
            ])
            final = os.path.join(self.segments_dir, name)
            os.replace(stage, final)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        return name

    def write_segment_pack(
        self, seg_name: str, packed: DataFrame, doc_map: DataFrame | None
    ) -> None:
        """Attach a packed index (built from THIS segment's postings only) to
        a just-written, not-yet-referenced segment — the
        update_index(repack='segment') sink.  Readers discover it via
        packed_units(); no pre-existing file is touched."""
        seg_dir = os.path.join(self.segments_dir, seg_name)
        assert os.path.isdir(seg_dir), seg_name
        out = os.path.join(seg_dir, "packed")
        packed.sortWithinPartitions("term").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(out)
        # an all-failed delta yields an EMPTY pack: guarantee a
        # schema-bearing file so packed_units() can still read the unit
        _ensure_schema_file(packed, out)
        if doc_map is not None:
            dm_out = os.path.join(seg_dir, "doc_map")
            doc_map.write.mode("overwrite").parquet(dm_out)
            _ensure_schema_file(doc_map, dm_out)

    def packed_units(self, spark: SparkSession) -> list[tuple[int, DataFrame, DataFrame | None]]:
        """All packed units of the CURRENT snapshot: the base pack (snapshot
        dir, covering every segment with seq <= packed_base_seq) plus one
        unit per referenced segment that carries its own pack.  Query side:
        operators/wand.py:wand_topk_units."""
        meta = self.meta()

        def doc_map(d: str) -> DataFrame | None:
            return read_parquet(spark, d) if os.path.isdir(d) else None

        # a layout-1 (pre-segment) snapshot has neither packed_base_seq nor
        # segments: one unit, so callers like WandServer.from_store and
        # query_index_batch work unchanged on old stores
        base_seq = int(meta.get("packed_base_seq", 0))
        units = [(base_seq, self.load(spark, "packed"),
                  doc_map(os.path.join(self.snapshot_dir(), "doc_map")))]
        for seg in meta.get("segments", []):
            p = os.path.join(self.segments_dir, seg, "packed")
            if self.seg_seq(seg) > base_seq and os.path.isdir(p):
                units.append((
                    self.seg_seq(seg),
                    read_parquet(spark, p),
                    doc_map(os.path.join(self.segments_dir, seg, "doc_map")),
                ))
        return units

    def packed_unit_fingerprints(self) -> dict[int, tuple]:
        """Content identity per packed unit: sorted (relpath, inode, size)
        over the unit's PACKED dir (data files only — _SUCCESS markers and
        .crc sidecars are regenerated per snapshot and carry no content).
        Hard-linked carry preserves inodes, so a base pack untouched by an
        update fingerprints identically across snapshots even though its
        path changed — WandServer.refresh() reuses its cached partitions
        exactly then, and rebuilds only units whose bytes actually differ.

        The doc_map dir is deliberately NOT fingerprinted: the snapshot
        rewrite may reorder its rows (new file, same logical content), but
        a byte-identical pack IMPLIES an identical logical doc map — the
        ordinals inside the packed blocks index into it, so any real map
        change necessarily rewrites pack bytes too."""
        fp = dir_fingerprint
        meta = self.meta()
        base = fp(os.path.join(self.snapshot_dir(), "packed"))
        if "segments" not in meta:
            return {0: base}
        base_seq = int(meta.get("packed_base_seq", 0))
        out = {base_seq: base}
        for seg in meta.get("segments", []):
            p = os.path.join(self.segments_dir, seg, "packed")
            if self.seg_seq(seg) > base_seq and os.path.isdir(p):
                out[self.seg_seq(seg)] = fp(p)
        return out

    def tombstone_frame(self, spark: SparkSession) -> DataFrame | None:
        """The (doc_id, before_seq) tombstones frame, NEVER collected — this
        is what query paths hand to the WAND kernels, which turn it into
        per-(unit, shard) dead sets distributed (operators/unit_server.py:
        _dead_sets_df).  None for layout-1 stores (no tombstones on disk)."""
        if "segments" not in self.meta():
            return None
        return self.load(spark, "tombstones")

    def tombstone_rows(self) -> int | None:
        """Tombstone row count straight from the parquet FOOTERS of the
        CURRENT snapshot's tombstones dir — a driver-side metadata read, no
        Spark job (guide §1.2: the per-update maintenance probe and the
        query-path has_tombstones probe each cost a full scheduling
        round-trip before this).  0 for layout-1 stores (no tombstones
        frame); None when pyarrow is unavailable (callers fall back to the
        Spark count)."""
        if "segments" not in self.meta():
            return 0
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow ships with pyspark
            return None
        d = os.path.join(self.snapshot_dir(), "tombstones")
        n = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return n

    def has_tombstones(self, spark: SparkSession) -> bool:
        """Cheap existence probe — parquet-footer metadata when available
        (no Spark job), else one limit(1) job over the churn-sized frame.
        Used to pick the single-unit fast path in query_index."""
        n = self.tombstone_rows()
        if n is not None:
            return n > 0
        tomb = self.tombstone_frame(spark)
        return tomb is not None and tomb.limit(1).count() > 0

    def tombstone_dict(self, spark: SparkSession) -> dict[int, int]:
        """{doc_id: before_seq} — collected to the driver; test/debug
        convenience ONLY.  No query path calls this (round-4): serving and
        batch querying keep tombstones distributed via tombstone_frame()."""
        if "segments" not in self.meta():
            return {}
        return {
            int(r["doc_id"]): int(r["before_seq"])
            for r in self.load(spark, "tombstones").collect()
        }

    def commit_snapshot(
        self,
        frames: dict[str, DataFrame],
        meta: dict,
        metrics: dict | None = None,
        carry_packed: tuple[str, list[int]] | None = None,
        expected_parent: str | None | object = _NO_CHECK,
    ) -> str:
        """Write snapshot frames to a staging dir, hard-link carried packed
        shards from a previous snapshot, then atomically flip CURRENT.

        ``carry_packed=(from_snapshot, shard_ids)`` links each
        ``packed/shard=N`` partition dir from the old snapshot instead of
        rewriting it — the incremental-update move: untouched shards cost
        inode links, not I/O.  A crash at any point before the final
        os.replace leaves the previous snapshot fully intact and readable.

        ``expected_parent`` is the optimistic-concurrency token (Iceberg
        compare-and-swap analogue): pass the snapshot name this commit was
        derived from (None for an expected-empty store) and the commit
        raises ConcurrentCommitError — discarding its staged data, leaving
        CURRENT on the other writer's snapshot — if a concurrent commit got
        there first.  Best-effort on a plain filesystem (the check-and-flip
        window is not atomic) but it converts silent lost-update into a
        loud, retryable error; a real Iceberg catalog makes it atomic.
        """
        name = self._next_snapshot_name()
        stage = os.path.join(self.path, f"_staging_{name}")
        if os.path.exists(stage):
            shutil.rmtree(stage)
        os.makedirs(stage)
        def _write_one(fname: str, df: DataFrame) -> None:
            assert fname in SNAPSHOT_FRAMES, fname
            out = os.path.join(stage, fname)
            if fname == "packed" and "shard" in df.columns:
                df.sortWithinPartitions("term").write.mode(
                    "overwrite"
                ).partitionBy("shard").parquet(out)
            elif fname == "tombstones":
                # one task guaranteed -> empty tombstones still write a
                # schema-bearing file
                df.repartition(1).write.mode("overwrite").parquet(out)
            else:
                df.write.mode("overwrite").parquet(out)

        try:
            # independent per-frame writes overlap (guide §2.6); shared
            # cached parents (term_stats, doc_map) are computed once
            _run_parallel([
                (lambda f=fname, d=df: _write_one(f, d))
                for fname, df in frames.items()
            ])
            if carry_packed is not None:
                from_snap, shard_ids = carry_packed
                src_root = os.path.join(self.path, from_snap, "packed")
                dst_root = os.path.join(stage, "packed")
                os.makedirs(dst_root, exist_ok=True)
                for sid in shard_ids:
                    src = os.path.join(src_root, f"shard={sid}")
                    if os.path.isdir(src):
                        _link_tree(src, os.path.join(dst_root, f"shard={sid}"))
            # after carry-linking, so a packed dir populated by links never
            # gets a root-level schema file (which would conflict with the
            # shard= partition layout on read)
            for fname, df in frames.items():
                _ensure_schema_file(df, os.path.join(stage, fname))
            if expected_parent is not _NO_CHECK:
                meta = dict(meta, parent_snapshot=expected_parent)  # lineage
            with open(os.path.join(stage, "config.json"), "w") as f:
                json.dump(meta, f, indent=2, sort_keys=True)
            with open(os.path.join(stage, "metrics.json"), "w") as f:
                json.dump(metrics or {}, f, indent=2, sort_keys=True)
            final = os.path.join(self.path, name)
            os.replace(stage, final)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        if expected_parent is not _NO_CHECK:
            cur = self.current_snapshot()
            if cur != expected_parent:
                shutil.rmtree(final, ignore_errors=True)
                raise ConcurrentCommitError(
                    f"snapshot {name} derived from {expected_parent!r} but "
                    f"CURRENT moved to {cur!r}; re-read and retry the update"
                )
        tmp = os.path.join(self.path, "CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, os.path.join(self.path, "CURRENT"))
        return name

    def empty_tombstones(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], TOMBSTONE_SCHEMA)

    # --- snapshot pins (live-reader protection) ---------------------------------

    @property
    def pins_dir(self) -> str:
        return os.path.join(self.path, "pins")

    def pin_snapshot(self, snapshot: str, note: str = "") -> str:
        """Register a live-reader pin on ``snapshot`` (the Iceberg
        snapshot-reference analogue): gc() will not expire a pinned
        snapshot, so a warm server whose cached frames still read that
        snapshot's files (WandServer.refresh reuses fingerprint-stable
        units ACROSS snapshots) can never have the store deleted from under
        it (round-5 ADVICE medium).  Returns the pin file path; release
        with release_pin().  Pins record the owner pid; a pin whose pid is
        dead is stale and auto-collected — single-host semantics (this
        sandbox); a multi-host deployment would hold catalog references
        with TTLs instead."""
        import time
        import uuid

        os.makedirs(self.pins_dir, exist_ok=True)
        path = os.path.join(self.pins_dir, uuid.uuid4().hex[:12] + ".json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "snapshot": snapshot,
                    "pid": os.getpid(),
                    "note": note,
                    "created": time.time(),
                },
                f,
            )
        os.replace(tmp, path)
        return path

    def release_pin(self, pin_path: str) -> None:
        try:
            os.remove(pin_path)
        except FileNotFoundError:
            pass

    def pinned_snapshots(self) -> set[str]:
        """Snapshots held by LIVE pins; stale pins (dead owner pid) are
        removed as a side effect."""
        out: set[str] = set()
        d = self.pins_dir
        if not os.path.isdir(d):
            return out
        for name in os.listdir(d):
            if not name.endswith(".json"):
                continue
            p = os.path.join(d, name)
            try:
                with open(p) as fh:
                    rec = json.load(fh)
                pid = int(rec.get("pid", 0))
            except (json.JSONDecodeError, OSError, ValueError):
                continue
            if pid and not _pid_alive(pid):
                try:
                    os.remove(p)
                except OSError:
                    pass
                continue
            snap = rec.get("snapshot")
            if snap:
                out.add(snap)
        return out

    # --- maintenance ------------------------------------------------------------

    def snapshots(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.path)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _meta_of(self, snapshot: str) -> dict:
        with open(os.path.join(self.path, snapshot, "config.json")) as f:
            return json.load(f)

    def gc(self, keep_last: int = 2) -> list[str]:
        """Expire old snapshots (Iceberg expire_snapshots analogue), never
        touching CURRENT, anything newer than the retention window, or a
        snapshot PINNED by a live reader (pin_snapshot — warm servers whose
        reused cached frames still read an old snapshot's files register
        one; round-5 ADVICE medium), then drop segments no kept snapshot
        references (incl. staging orphans) and derived caches of expired
        snapshots/segments.  Hard-linked packed files survive as long as
        any kept snapshot links them."""
        cur = self.current_snapshot()
        snaps = self.snapshots()
        keep = set(snaps[-keep_last:])
        if cur:
            keep.add(cur)
        keep |= self.pinned_snapshots() & set(snaps)
        removed = []
        for s in snaps:
            if s not in keep:
                shutil.rmtree(os.path.join(self.path, s), ignore_errors=True)
                removed.append(s)
        referenced: set[str] = set()
        for s in keep:
            try:
                referenced.update(self._meta_of(s).get("segments", []))
            except FileNotFoundError:
                pass
        if os.path.isdir(self.segments_dir):
            for seg in os.listdir(self.segments_dir):
                if seg not in referenced:
                    shutil.rmtree(
                        os.path.join(self.segments_dir, seg), ignore_errors=True
                    )
                    removed.append(f"segments/{seg}")
        removed.extend(self._gc_derived(keep, referenced))
        return removed

    def _gc_derived(self, keep: set[str], referenced: set[str]) -> list[str]:
        """Prune derived caches (round-5 ADVICE fix: they accumulated
        unboundedly): legacy per-snapshot ``derived/<vNNNNN>`` dirs whose
        snapshot expired, segment-keyed unit packs (``derived/pos_units`` /
        ``derived/tri_units``) whose key — a segment name, or
        ``snap_<vNNNNN>`` for layout-1 stores — is no longer referenced by
        any kept snapshot, and snapshot-keyed expansion tables
        (``derived/expansions/<vNNNNN>``).  In-flight ``.tmp-*`` staging
        dirs are left alone (a concurrent packer may own them); they are
        removed with their base key once it expires."""
        removed: list[str] = []
        derived = os.path.join(self.path, "derived")
        if not os.path.isdir(derived):
            return removed
        for d in os.listdir(derived):
            if d in ("pos_units", "tri_units", "expansions"):
                continue
            if d.startswith("v") and d[1:].isdigit() and d not in keep:
                shutil.rmtree(os.path.join(derived, d), ignore_errors=True)
                removed.append(f"derived/{d}")
        for units_dir in ("pos_units", "tri_units"):
            pu = os.path.join(derived, units_dir)
            if os.path.isdir(pu):
                for key in os.listdir(pu):
                    base = key.split(".tmp-")[0]
                    live = base in referenced or (
                        base.startswith("snap_") and base[5:] in keep
                    )
                    if not live:
                        shutil.rmtree(os.path.join(pu, key), ignore_errors=True)
                        removed.append(f"derived/{units_dir}/{key}")
        exp = os.path.join(derived, "expansions")
        if os.path.isdir(exp):
            for key in os.listdir(exp):
                if key.split(".tmp-")[0] not in keep:
                    shutil.rmtree(os.path.join(exp, key), ignore_errors=True)
                    removed.append(f"derived/expansions/{key}")
        return removed

    # --- tokenize checkpoint (resumability) --------------------------------------

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.path, "_checkpoints", "tokenized")

    def has_checkpoint(self) -> bool:
        d = self.checkpoint_dir
        return os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        )

    def load_checkpoint(self, spark: SparkSession) -> DataFrame | None:
        if not self.has_checkpoint():
            return None
        return read_parquet(spark, self.checkpoint_dir)

    def append_checkpoint(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.checkpoint_dir)

    def clear_checkpoint(self) -> None:
        shutil.rmtree(os.path.join(self.path, "_checkpoints"), ignore_errors=True)

    def gc_checkpoint(self, spark: SparkSession, keep_version: int,
                      target_partitions: int = 32) -> None:
        """Drop checkpoint rows of analyzer versions other than
        ``keep_version`` (post-migration cleanup: stale-version rows are
        never read again but would otherwise accumulate forever).  Atomic
        like compact_checkpoint."""
        ckpt = self.load_checkpoint(spark)
        if ckpt is None:
            return
        kept = ckpt.filter(F.col("analyzer_version") == keep_version)
        tmp = self.checkpoint_dir + "_gc"
        shutil.rmtree(tmp, ignore_errors=True)
        kept.repartition(target_partitions).write.parquet(tmp)
        old = self.checkpoint_dir + "_old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(self.checkpoint_dir, old)
        os.replace(tmp, self.checkpoint_dir)
        shutil.rmtree(old, ignore_errors=True)

    def compact_checkpoint(self, spark: SparkSession, target_partitions: int = 32) -> None:
        """Rewrite the append-accumulated checkpoint into ``target_partitions``
        files (small-file compaction, the Iceberg rewrite_data_files
        analogue).  Atomic: written to a sibling dir, then swapped."""
        ckpt = self.load_checkpoint(spark)
        if ckpt is None:
            return
        tmp = self.checkpoint_dir + "_compact"
        shutil.rmtree(tmp, ignore_errors=True)
        ckpt.repartition(target_partitions).write.parquet(tmp)
        old = self.checkpoint_dir + "_old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(self.checkpoint_dir, old)
        os.replace(tmp, self.checkpoint_dir)
        shutil.rmtree(old, ignore_errors=True)
