"""End-to-end index lifecycle: full build, resumable build, incremental update.

Mirrors the reference's ``Library::update_library`` flow
(/root/reference/src/library.rs:1000-1093, traced in SURVEY.md §3.2):

  1. scan existing analyzed rows at the current version   -> manifest read
  2. optional delete of vanished paths (set difference)   -> anti-join
  3. skip already-analyzed (set difference)               -> anti-join on
                                                             (doc_id, sha256)
  4. refuse mixed versions                                -> analyzer_version
                                                             sanity check
                                                             (src/library.rs:708-735)
  5. analyze the remainder, store failures separately     -> tokenize delta,
                                                             _errors ledger
  6. transactional store                                  -> snapshot commit

Resumability: the expensive stage (tokenization) checkpoints its output per
batch; a restarted build anti-joins against the checkpoint and only processes
missing docs, then derives the final index from checkpoint rows — so a build
killed at any point re-runs to an identical snapshot (tested byte-identical
for packed blocks).

Metrics (ST3 analogue — the reference's per-song progress counters,
src/library.rs:1204-1287): docs/sec, postings/sec, and per-stage skew ratio
(max partition key count / mean), recorded into the snapshot's metrics.json.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import with_invariants
from bliss_rs_spark.functions.placement import doc_shard, hash_bucket
from bliss_rs_spark.operators.build_index import (
    build_doc_stats,
    build_postings,
    build_term_stats,
    split_errors,
    tokenize_documents,
)
from bliss_rs_spark.operators.pack import (
    build_doc_map,
    build_packed_index,
    build_packed_index_full,
    ordinalize_packed,
    unpack_postings,
)
from bliss_rs_spark.sources.index_store import IndexStore, _run_parallel, read_parquet


def _bucket_weight_stats(
    df: DataFrame, key: str, weight: str | None = None
) -> tuple[int, float]:
    """(total weight, max/mean skew ratio) per key in ONE job — callers that
    need both n_postings and the term-bucket skew metric pay one collect,
    not two."""
    agg = F.sum(weight) if weight else F.count(F.lit(1))
    counts = df.groupBy(key).agg(agg.alias("w"))
    row = counts.agg(
        F.sum("w").alias("total"), F.max("w").alias("mx"), F.avg("w").alias("mean")
    ).collect()[0]
    total = int(row["total"] or 0)
    if not row["mean"]:
        return total, 1.0
    return total, float(row["mx"]) / float(row["mean"])


def _doc_shard_skew(doc_map: DataFrame | None) -> float | None:
    """max/mean docs per doc-shard — the pack-stage shuffle's skew metric,
    free from the tiny (n_shards rows) doc_map frame."""
    if doc_map is None:
        return None
    row = doc_map.agg(F.max("n_docs").alias("mx"), F.avg("n_docs").alias("mean")).collect()[0]
    if not row["mean"]:
        return 1.0
    return float(row["mx"]) / float(row["mean"])


def _tokenize_with_checkpoint(
    spark: SparkSession, docs: DataFrame, store: IndexStore, cfg: IndexConfig
) -> DataFrame:
    """Tokenize only docs absent from the checkpoint; append; return the
    checkpointed rows restricted to the incoming doc set (J3 anti-join —
    THE resumability move, src/library.rs:1068-1071)."""
    # content_sha256 is NULL for failed (null-content) docs; a plain equi-join
    # would silently drop them from the checkpoint round-trip (they'd be
    # re-tokenized forever AND vanish from the errors ledger) — join on a
    # null-safe sentinel key instead.
    sha_key = F.coalesce(F.col("content_sha256"), F.lit("\x00<null>"))
    ckpt = store.load_checkpoint(spark)
    if ckpt is not None:
        done = ckpt.filter(F.col("analyzer_version") == cfg.analyzer_version).select(
            "doc_id", sha_key.alias("_sha_key")
        )
        todo = docs.withColumn("_sha_key", sha_key).join(
            done, ["doc_id", "_sha_key"], "left_anti"
        ).drop("_sha_key")
    else:
        todo = docs
    # no emptiness pre-probe: it cost the same anti-join scan as the append
    # itself, so the common (non-empty delta) case paid the scan twice —
    # one job, not two (guide §1.2: remove passes).  An empty todo appends
    # nothing and is harmless.
    tokenized = tokenize_documents(todo, cfg).withColumn(
        "analyzer_version", F.lit(cfg.analyzer_version)
    )
    store.append_checkpoint(tokenized)
    ckpt = store.load_checkpoint(spark)
    if ckpt is None:
        # empty corpus and nothing ever checkpointed: the (empty) tokenized
        # frame is already correctly shaped
        return tokenized
    # restrict to the incoming corpus (checkpoint may hold rows from docs
    # that have since vanished) and to the current analyzer version
    return ckpt.filter(F.col("analyzer_version") == cfg.analyzer_version).withColumn(
        "_sha_key", sha_key
    ).join(
        docs.select("doc_id", sha_key.alias("_sha_key")),
        ["doc_id", "_sha_key"],
        "left_semi",
    ).drop("_sha_key")


def _removed_flat_from_checkpoint(
    spark: SparkSession,
    store: IndexStore,
    removed: DataFrame,
    done_ok: DataFrame,
    cfg: IndexConfig,
) -> DataFrame | None:
    """Removed docs' flat postings (term, doc_id, tf, dl), recovered from the
    tokenize CHECKPOINT instead of decoding packed units — the O(delta)-jobs
    df/sum_dl-decrement path for segment-mode updates (round-2 residual #4).

    One column-pruned scan of the checkpoint (doc_id, sha, terms, tfs, dl),
    semi-joined to the removed docs' CURRENT live content (manifest ok sha),
    so stale rows of since-changed docs are ignored.  Returns None when the
    store has no checkpoint; the caller verifies coverage (a store built
    with checkpoint=False at some point may miss docs) and falls back to the
    packed-decode path."""
    ckpt = store.load_checkpoint(spark)
    if ckpt is None:
        return None
    live = done_ok.join(F.broadcast(removed), "doc_id", "left_semi")
    rows = (
        ckpt.filter(
            (F.col("analyzer_version") == cfg.analyzer_version)
            & F.col("error").isNull()
        )
        .join(F.broadcast(live), ["doc_id", "content_sha256"], "left_semi")
        .dropDuplicates(["doc_id"])
        .select("doc_id", "dl", F.explode(F.arrays_zip("terms", "tfs")).alias("t"))
    )
    return rows.select(
        F.col("t.terms").alias("term"),
        "doc_id",
        F.col("t.tfs").alias("tf"),
        "dl",
    )


def _manifest_rows(doc_stats: DataFrame, errors: DataFrame, cfg: IndexConfig) -> DataFrame:
    return doc_stats.select(
        "doc_id",
        "content_sha256",
        F.lit(cfg.analyzer_version).alias("analyzer_version"),
        F.lit("ok").alias("status"),
    ).unionByName(
        errors.select(
            "doc_id",
            F.lit(None).cast("string").alias("content_sha256"),
            F.lit(cfg.analyzer_version).alias("analyzer_version"),
            F.lit("failed").alias("status"),
        )
    )


def _write_segment_from_tokenized(
    spark: SparkSession,
    tokenized: DataFrame,
    store: IndexStore,
    cfg: IndexConfig,
    seg_name: str,
) -> tuple[str, dict]:
    """Tokenized rows -> one immutable segment on disk; returns
    (segment name, {"n_ok", "sum_dl"}).  The tokenizer runs exactly once:
    ``tokenized`` is persisted for the duration of the 4-6 frame writes
    (each write is its own Spark action — without the cache a
    checkpoint-less build re-ran the pandas-UDF tokenizer once PER FRAME,
    and the checkpoint path re-ran its anti-join scan per frame; guide §5
    caching-for-reuse, measured 32 -> ~20 jobs on snapshot_build).

    The segment's (row count, sum dl) stats ride the doc_stats WRITE as an
    observed metric (DataFrame.observe / CollectMetrics) — previously both
    build_full and update_index paid one more full aggregation job over
    the just-written parquet for exactly these two numbers (guide §1.2:
    remove passes)."""
    from pyspark.sql import Observation

    tokenized = tokenized.persist()
    try:
        ok, errors = split_errors(tokenized)
        obs = Observation()
        doc_stats = build_doc_stats(ok).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
        )
        frames = {
            "postings": build_postings(ok, cfg),
            "doc_stats": doc_stats,
            "manifest": _manifest_rows(doc_stats, errors, cfg),
            "errors": errors,
        }
        if cfg.store_positions:
            from bliss_rs_spark.operators.phrase import build_positional_postings

            frames["positional"] = build_positional_postings(ok, cfg)
        if cfg.store_trigrams:
            from bliss_rs_spark.operators.trigram import build_trigram_index

            # folded layout (Zoekt): one index serves case-sensitive (exact —
            # folded candidates are a superset, verify stays raw) AND grep -i
            frames["trigram"] = build_trigram_index(ok, "content", lowercase=True)
        name = store.write_segment(frames, seg_name)
        got = obs.get  # completed: every frame write has finished
        return name, {
            "n_ok": int(got["n"] or 0),
            "sum_dl": int(got["sdl"] or 0),
        }
    finally:
        tokenized.unpersist()


def _read_segment(spark: SparkSession, store: IndexStore, seg: str, frame: str) -> DataFrame:
    import os

    return read_parquet(spark, os.path.join(store.segments_dir, seg, frame))


def _assemble_and_commit(
    spark: SparkSession,
    tokenized: DataFrame,
    store: IndexStore,
    cfg: IndexConfig,
    t_start: float,
    docs_processed: int,
    avgdl_override: float | None = None,
    parent: str | None = None,
) -> str:
    """Full-build commit: one segment holding the whole corpus, fresh packed
    index, empty tombstones.  ``avgdl_override`` pins the BM25 length norm to
    a caller-supplied epoch value (used to verify incremental updates are
    byte-identical to a pinned-avgdl rebuild; production full builds re-derive
    it exactly)."""
    seg_name, seg_stats = _write_segment_from_tokenized(
        spark, tokenized, store, cfg, store.next_segment_name()
    )
    postings = _read_segment(spark, store, seg_name, "postings")

    # (n_docs, sum_dl) observed during the doc_stats write — no extra agg job
    n_docs = seg_stats["n_ok"]
    sum_dl = seg_stats["sum_dl"]
    avgdl_exact = (sum_dl / n_docs) if n_docs else 0.0
    avgdl = avgdl_exact if avgdl_override is None else float(avgdl_override)

    term_stats = build_term_stats(postings, n_docs).cache()
    packed, doc_map = build_packed_index_full(postings, term_stats, n_docs, avgdl, cfg)
    if doc_map is not None:
        # consumed 3x (packed ordinalization, snapshot write, skew metric),
        # each pull otherwise a full postings distinct+group — cache the
        # n_shards-row result (guide §5; one row per shard, bytes ~ shard
        # doc-id blobs)
        doc_map = doc_map.cache()
    # n_postings and bucket skew come from the tiny term_stats frame (never
    # a second postings scan); the doc-shard skew probe is independent —
    # overlap the two stat jobs (guide §2.6)
    stats_batch = _run_parallel(
        [
            lambda: _bucket_weight_stats(term_stats, "term_bucket", "df"),
            lambda: _doc_shard_skew(doc_map),
        ]
    )
    (n_postings, bucket_skew), shard_skew = stats_batch

    elapsed = max(time.perf_counter() - t_start, 1e-9)
    metrics = {
        "docs_processed": docs_processed,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(docs_processed / elapsed, 2),
        "postings_per_sec": round(n_postings / elapsed, 2),
        "skew_ratio_term_bucket": round(bucket_skew, 3),
    }
    if shard_skew is not None:
        metrics["skew_ratio_doc_shard"] = round(shard_skew, 3)
    meta = {
        "config": __import__("json").loads(cfg.to_json()),
        "layout": 2,
        "segments": [seg_name],
        "packed_base_seq": IndexStore.seg_seq(seg_name),
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": avgdl,           # the scoring/packing epoch value
        "avgdl_exact": avgdl_exact,
        "analyzer_version": cfg.analyzer_version,
        "index_format_version": cfg.index_format_version,
    }
    name = store.commit_snapshot(
        {
            "term_stats": term_stats,
            "packed": packed,
            "tombstones": store.empty_tombstones(spark),
            **({"doc_map": doc_map} if doc_map is not None else {}),
        },
        meta,
        metrics,
        expected_parent=parent,
    )
    term_stats.unpersist()
    if doc_map is not None:
        doc_map.unpersist()
    return name


def build_full(
    spark: SparkSession,
    docs: DataFrame,
    store: IndexStore,
    cfg: IndexConfig | None = None,
    checkpoint: bool = True,
    avgdl_override: float | None = None,
) -> str:
    """Full (re)build; with checkpoint=True a killed build resumes for free.
    Doubles as the store's compaction: the new snapshot references a single
    fresh segment, tombstones reset to empty, and gc() reclaims the old
    segments."""
    cfg = cfg or IndexConfig()
    t0 = time.perf_counter()
    parent = store.current_snapshot()  # optimistic-concurrency token
    if "doc_id" not in docs.columns or "content_sha256" not in docs.columns:
        docs = with_invariants(docs)
    if checkpoint:
        # the corpus count (metrics only) overlaps the checkpoint append —
        # independent actions (guide §2.6)
        box: dict = {}

        def _prep():
            box["df"] = _tokenize_with_checkpoint(spark, docs, store, cfg)

        n_in, _ = _run_parallel([docs.count, _prep])
        tokenized = box["df"]
    else:
        n_in = docs.count()
        tokenized = tokenize_documents(docs, cfg)
    return _assemble_and_commit(
        spark, tokenized, store, cfg, t0, n_in, avgdl_override, parent=parent
    )


def update_index(
    spark: SparkSession,
    incoming: DataFrame,
    store: IndexStore,
    cfg: IndexConfig | None = None,
    delete_missing: bool = False,
    repack: str = "merge",
    checkpoint: bool = True,
    df_source: str = "auto",
    auto_maintain: bool = True,
) -> str:
    """Incremental update, O(delta) in shuffle and write:

    - tokenize only new/changed docs; write them as ONE new immutable segment
      (old segments are never rewritten)
    - removed/changed docs become tombstones (doc_id, before_seq) — the
      delete-file move that logically drops rows from immutable segments
    - term_stats updated exactly and incrementally: df' = df + df(delta)
      - df(removed postings), idf recomputed for the new N over the
      vocab-sized frame
    - avgdl stays PINNED to the store's epoch value, so existing blocks'
      precomputed block-max norms remain valid; the exact running value is
      tracked in meta (sum_dl / n_docs) and re-pinned by the next build_full.

    Two packed-index policies (the Lucene merge-policy trade-off):

    repack='merge' (default — read-optimized): repack ONLY the doc-shards
      containing touched docs: read those shards' packed partitions
      (partition-pruned), decode back to flat postings (unpack_postings),
      drop removed docs, union the delta, repack.  Untouched
      ``packed/shard=N`` partitions are HARD-LINKED into the new snapshot —
      zero bytes written (asserted by inode equality in tests), and the
      result is byte-identical per shard to
      ``build_full(avgdl_override=epoch)``.  Best when deltas are small or
      clustered; a hash-scattered delta touches ~min(|delta|, n_shards)
      shards and pays their repack.

    repack='segment' (write-optimized — streaming / scattered deltas): pack
      ONLY the delta postings as the new segment's own unit; NO existing
      block is read or rewritten (base packed is wholly hard-linked).
      Queries merge per-(unit, shard) top-ks — exact because a live doc's
      postings live wholly in the unit that last indexed it — and drop
      tombstoned docs inside the WAND kernel at block-decode time
      (wand_topk_units).  build_full doubles as the compaction that folds
      units back into one base.  A 'merge' request on a store with
      outstanding segment units auto-falls back to 'segment' (a base-only
      merge would drop them); compact first to return to merge cadence.

    Upsert semantics match the reference's delete+reinsert of only the
    touched song's rows in one transaction
    (/root/reference/src/library.rs:1544-1633); with cfg=None the update
    inherits the INDEX's persisted config — layout options like
    store_positions/ordinal_docids are properties of the store, and silently
    changing them mid-stream would drop frames.

    ``df_source`` picks where segment-mode updates get removed docs' exact
    df/dl deltas: 'checkpoint' explodes the removed docs' tokenize-checkpoint
    rows (one column-pruned scan, NO packed-unit decode — the O(delta)-jobs
    path); 'packed' decodes the removed shards of every unit (partition-
    pruned, read-only); 'auto' (default) uses the checkpoint when it covers
    every removed doc and falls back to decode otherwise.

    ``auto_maintain`` runs the tiered maintenance ladder (``maintain``) after
    the commit — the reference runs its maintenance inline on every update
    (/root/reference/src/library.rs:1040-1084); Lucene's analogue is the
    tiered merge policy.  Thresholds live in IndexConfig; a no-op when under
    them.
    """
    import os

    t0 = time.perf_counter()
    parent = store.current_snapshot()  # optimistic-concurrency token
    if parent is None:
        return build_full(spark, incoming, store, cfg or IndexConfig())
    cfg = cfg or store.config()

    meta = store.meta()
    if meta["analyzer_version"] != cfg.analyzer_version:
        # mixed-version stores are refused, exactly like the reference's
        # version sanity check (/root/reference/src/library.rs:708-735);
        # callers run migrate()/build_full to move the store forward.
        raise ValueError(
            f"index built with analyzer_version={meta['analyzer_version']}, "
            f"config says {cfg.analyzer_version}: refusing to mix; run build_full"
        )
    if "segments" not in meta:
        # layout-1 snapshot (pre-segment store): no segment bookkeeping to
        # extend — rebuild once into the segmented layout (checkpointed docs
        # are not re-tokenized), then updates are incremental again.
        return build_full(spark, incoming, store, cfg)

    if "doc_id" not in incoming.columns or "content_sha256" not in incoming.columns:
        incoming = with_invariants(incoming)
    incoming = incoming.cache()

    manifest = store.load(spark, "manifest")
    done_ok = manifest.filter(
        (F.col("status") == "ok")
        & (F.col("analyzer_version") == cfg.analyzer_version)
    ).select("doc_id", "content_sha256")

    # skip-already-analyzed (J3 anti-join).  n_in and n_delta come from ONE
    # job (count + matched-count over a left join) instead of two counts —
    # the update path is driver-job-bound at small deltas.  No broadcast
    # hint: both sides are corpus-sized in a full-corpus re-supply; AQE
    # picks the strategy.
    skip_check = (
        incoming.join(
            done_ok.withColumn("_done", F.lit(1)),
            ["doc_id", "content_sha256"],
            "left",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_done").alias("skip"))
    )
    delta = incoming.join(done_ok, ["doc_id", "content_sha256"], "left_anti").cache()

    # removed = docs whose existing rows must die: changed docs (old version
    # replaced) + vanished docs (delete_missing) — the upsert delete half
    manifest_ids = manifest.select("doc_id").distinct()
    removed = delta.select("doc_id").distinct().join(manifest_ids, "doc_id", "left_semi")
    if delete_missing:
        removed = removed.unionByName(
            manifest_ids.join(incoming.select("doc_id"), "doc_id", "left_anti")
        )
    removed = removed.distinct().cache()
    # one job for both removal counts: total and how many were live ok docs
    # (the n_docs decrement; failed docs never contributed)
    ok_ids = done_ok.select("doc_id").distinct()
    rem_check = (
        removed.join(ok_ids.withColumn("_ok", F.lit(1)), "doc_id", "left")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_ok").alias("n_ok"))
    )
    # the two probe aggs are independent (both read only the cached
    # incoming/delta and the manifest) — overlap them from driver threads
    # (guide §2.6); the delta TOKENIZATION (checkpoint append — the one
    # unavoidable UDF action) is also independent of the probe RESULTS, so
    # it rides the same batch: an empty delta appends nothing, so starting
    # it before n_delta is known is semantics-free
    tokenized_box: dict = {}

    def _prepare_tokenized():
        if checkpoint:
            tokenized_box["df"] = _tokenize_with_checkpoint(
                spark, delta, store, cfg
            )
        else:
            tokenized_box["df"] = tokenize_documents(delta, cfg)

    row, rem_row, _ = (
        r[0] if isinstance(r, list) else r
        for r in _run_parallel(
            [skip_check.collect, rem_check.collect, _prepare_tokenized]
        )
    )
    n_in = int(row["n"])
    n_delta = n_in - int(row["skip"] or 0)
    n_removed = int(rem_row["n"])
    n_removed_ok = int(rem_row["n_ok"] or 0)

    avgdl = float(meta["avgdl"])  # epoch-pinned: keeps untouched blocks valid
    segments = list(meta["segments"])
    seg_name = store.next_segment_name()
    next_seq = store.seg_seq(seg_name)

    # --- new segment (only if there is a delta) -------------------------------
    new_postings = None
    n_new_ok = 0
    sum_dl_new = 0
    if n_delta > 0:
        # tokenized was prepared in the overlapped batch above: with
        # checkpoint the delta already landed in the tokenize checkpoint
        # (one UDF pass; killed updates resume via the same anti-join as
        # build_full) and the 4-5 segment frame writes derive from the
        # PARQUET read, not from re-running the tokenizer lineage per frame
        tokenized = tokenized_box["df"]
        _, seg_stats = _write_segment_from_tokenized(
            spark, tokenized, store, cfg, seg_name
        )
        segments.append(seg_name)
        new_postings = _read_segment(spark, store, seg_name, "postings")
        # (n, sum dl) observed during the doc_stats write — no extra agg job
        n_new_ok = seg_stats["n_ok"]
        sum_dl_new = seg_stats["sum_dl"]

    # --- tombstones ------------------------------------------------------------
    tombstones = store.load(spark, "tombstones")
    if n_removed > 0:
        tombstones = (
            tombstones.unionByName(
                removed.withColumn("before_seq", F.lit(next_seq).cast("int"))
            )
            .groupBy("doc_id")
            .agg(F.max("before_seq").alias("before_seq"))
        )

    # --- packed policy ----------------------------------------------------------
    assert repack in ("merge", "segment"), repack
    units = store.packed_units(spark)
    old_tomb_df = store.load(spark, "tombstones")  # churn-sized; broadcast below
    if repack == "merge" and len(units) > 1:
        repack = "segment"  # outstanding segment units: see docstring

    shard_col = doc_shard(cfg.n_doc_shards)
    base_seq_old = int(meta.get("packed_base_seq", 0))
    old_doc_map = store.load(spark, "doc_map") if cfg.ordinal_docids else None
    to_unpersist = []
    df_src_used = None
    sum_dl_removed_pre = None  # set when the checkpoint job already summed it

    if repack == "merge":
        # docs already tombstone-dead in the base (pure deletes of past
        # segment-mode updates) must be dropped by this repack too, and
        # their shards count as touched — else carried shards resurrect them
        # (broadcast anti/union joins, never a driver-side id list)
        base_dead_ids = old_tomb_df.filter(
            F.col("before_seq") > F.lit(base_seq_old)
        ).select("doc_id")
        removed_eff = removed.unionByName(base_dead_ids).distinct()
        touched = removed_eff
        if new_postings is not None:
            touched = touched.unionByName(
                new_postings.select("doc_id").distinct()
            ).distinct()

        def _shards():
            return sorted(
                r[0]
                for r in touched.select(shard_col.alias("s")).distinct().collect()
            )

        delta_shards = _shards()
        old_packed = store.load(spark, "packed").filter(
            F.col("shard").isin(delta_shards)
        )
        unpacked = unpack_postings(
            old_packed,
            old_doc_map.filter(F.col("shard").isin(delta_shards))
            if old_doc_map is not None
            else None,
        ).cache()
        to_unpersist.append(unpacked)
        removed_flat = unpacked.join(F.broadcast(removed), "doc_id", "left_semi")
        kept_flat = unpacked.join(F.broadcast(removed_eff), "doc_id", "left_anti")
        repack_input = kept_flat.select("term", "doc_id", "tf", "dl")
        if new_postings is not None:
            repack_input = repack_input.unionByName(
                new_postings.select("term", "doc_id", "tf", "dl")
            )
    else:
        # segment mode: NOTHING old is repacked.  Removed docs' postings are
        # still needed for exact df/sum_dl deltas — preferred source is the
        # tokenize checkpoint (one scan, no unit decode); fallback decodes
        # only the removed docs' shards of each unit (partition-pruned,
        # read-only), restricted to docs LIVE in that unit (docs dead there
        # were already discounted when they were tombstoned).
        assert df_source in ("auto", "checkpoint", "packed"), df_source
        delta_shards = []

        def _resolve_removed_flat():
            """-> (removed_flat, sum_dl_pre, df_src) — may run its own
            collects; independent of the new-segment stats agg, so the two
            overlap below (guide §2.6)."""
            if n_removed == 0:
                return (
                    spark.createDataFrame(
                        [], "shard int, term string, doc_id long, tf long, dl long"
                    ),
                    0,  # nothing removed: skip the empty-agg job
                    None,
                )
            if df_source in ("auto", "checkpoint") and checkpoint:
                ckpt_flat = _removed_flat_from_checkpoint(
                    spark, store, removed, done_ok, cfg
                )
                if ckpt_flat is not None:
                    ckpt_flat = ckpt_flat.cache()
                    # one job: coverage check AND the sum_dl decrement
                    r = (
                        ckpt_flat.groupBy("doc_id")
                        .agg(F.max("dl").alias("dl"))
                        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
                        .collect()[0]
                    )
                    if int(r["n"]) == n_removed_ok:
                        to_unpersist.append(ckpt_flat)
                        return (ckpt_flat, int(r["sdl"] or 0), "checkpoint")
                    ckpt_flat.unpersist()
                if df_source == "checkpoint":
                    raise ValueError(
                        "df_source='checkpoint' but the tokenize checkpoint "
                        "does not cover every removed doc; use 'auto' or 'packed'"
                    )
            rem_shards = sorted(
                r[0]
                for r in removed.select(shard_col.alias("s")).distinct().collect()
            )
            rf = None
            for seq, packed_df, dm_df in units:
                live_rem = removed.join(
                    F.broadcast(
                        old_tomb_df.filter(
                            F.col("before_seq") > F.lit(int(seq))
                        ).select("doc_id")
                    ),
                    "doc_id",
                    "left_anti",
                )
                part = unpack_postings(
                    packed_df.filter(F.col("shard").isin(rem_shards)),
                    dm_df.filter(F.col("shard").isin(rem_shards))
                    if dm_df is not None
                    else None,
                ).join(F.broadcast(live_rem), "doc_id", "left_semi")
                rf = part if rf is None else rf.unionByName(part)
            rf = rf.cache()
            to_unpersist.append(rf)
            return (rf, None, "packed_decode")

        removed_flat, sum_dl_removed_pre, df_src_used = _resolve_removed_flat()

    # --- exact incremental term stats -------------------------------------------
    n_docs = int(meta["n_docs"]) - n_removed_ok + n_new_ok
    if sum_dl_removed_pre is not None:
        sum_dl_agg = None
    else:
        # deferred: collected in the overlapped stats batch below
        sum_dl_agg = (
            removed_flat.groupBy("doc_id")
            .agg(F.max("dl").alias("dl"))
            .agg(F.sum("dl"))
            .collect
        )

    # df' = df + df(delta) - df(removed), folded into ONE signed union +
    # groupBy + a single full join against old_ts (was: two chained full
    # joins — one more exchange round per update for identical arithmetic;
    # guide §2.4 remove shuffles outright)
    bucket_of_term = hash_bucket("term", cfg.n_term_buckets)
    delta_rows = removed_flat.select(
        "term", bucket_of_term.alias("term_bucket"), F.lit(-1).alias("d")
    )
    if new_postings is not None:
        delta_rows = delta_rows.unionByName(
            new_postings.select("term", "term_bucket", F.lit(1).alias("d"))
        )
    df_delta = delta_rows.groupBy("term", "term_bucket").agg(
        F.sum("d").alias("delta")
    )
    old_ts = store.load(spark, "term_stats").select("term", "term_bucket", "df")
    merged = (
        old_ts.join(df_delta, ["term", "term_bucket"], "full")
        .select(
            "term",
            "term_bucket",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("delta"), F.lit(0))
            ).alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    term_stats = merged.withColumn(
        "idf",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
    ).cache()

    # --- build the new packed data under the chosen policy ----------------------
    old_snapshot = parent
    old_packed_dir = os.path.join(store.snapshot_dir(old_snapshot), "packed")
    base_shards = sorted(
        int(d.split("=")[1])
        for d in os.listdir(old_packed_dir)
        if d.startswith("shard=")
    ) if os.path.isdir(old_packed_dir) else []

    doc_map_out = None
    base_seq_new = base_seq_old
    if repack == "merge":
        packed_delta = build_packed_index(repack_input, term_stats, n_docs, avgdl, cfg)
        if cfg.ordinal_docids:
            sharded = repack_input.withColumn("shard", shard_col)
            # consumed 3x (ordinalize, doc_map write, skew metric) — cache
            # the tiny per-shard result instead of re-running the repack
            # input's distinct+group each time (guide §5)
            doc_map_delta = build_doc_map(sharded).cache()
            to_unpersist.append(doc_map_delta)
            packed_delta = ordinalize_packed(packed_delta, doc_map_delta)
            doc_map_out = old_doc_map.filter(
                ~F.col("shard").isin(delta_shards)
            ).unionByName(doc_map_delta)
        carry_shards = [s for s in base_shards if s not in set(delta_shards)]
        # advance the base watermark ONLY to a segment actually written: a
        # delete-only update (n_delta == 0) reserves next_seq for tombstones
        # but writes no seg_{next_seq} dir, so next_segment_name() would hand
        # that seq to the NEXT real segment — and a base watermark already
        # sitting at next_seq would make packed_units() skip its pack
        # (strict seg_seq > base_seq) and WAND silently serve stale rows.
        # The repack itself already dropped the removed docs physically, so
        # keeping the old watermark is exact.
        base_seq_new = next_seq if n_delta > 0 else base_seq_old
        pack_write = None
    else:
        pack_write = None
        if new_postings is not None:
            seg_packed = build_packed_index(
                new_postings.select("term", "doc_id", "tf", "dl"),
                term_stats, n_docs, avgdl, cfg,
            )
            seg_dm = None
            if cfg.ordinal_docids:
                # consumed 2x (ordinalize + the pack's doc_map write)
                seg_dm = build_doc_map(
                    new_postings.withColumn("shard", shard_col)
                ).cache()
                to_unpersist.append(seg_dm)
                seg_packed = ordinalize_packed(seg_packed, seg_dm)
            # deferred: the segment-pack write overlaps the stats batch below
            pack_write = (
                lambda sp=seg_packed, sd=seg_dm:
                store.write_segment_pack(seg_name, sp, sd)
            )
        from bliss_rs_spark.operators.pack import PACKED_SCHEMA

        packed_delta = spark.createDataFrame([], PACKED_SCHEMA)
        if cfg.ordinal_docids:
            doc_map_out = old_doc_map  # unchanged; vocab-of-shards-sized rewrite
        carry_shards = base_shards  # the whole base is hard-linked

    # --- overlapped stats/write batch (guide §2.6): the term-stats bucket
    # agg, the removed-docs sum_dl agg, the doc-shard skew metric and (in
    # segment mode) the segment-pack write are mutually independent actions
    batch = [lambda: _bucket_weight_stats(term_stats, "term_bucket", "df")]
    if sum_dl_agg is not None:
        batch.append(sum_dl_agg)
    if doc_map_out is not None:
        batch.append(lambda: _doc_shard_skew(doc_map_out))
    if pack_write is not None:
        batch.append(pack_write)
    results = _run_parallel(batch)
    i = 0
    n_postings, bucket_skew = results[i]; i += 1
    if sum_dl_agg is not None:
        sum_dl_removed = int(results[i][0][0] or 0); i += 1
    else:
        sum_dl_removed = sum_dl_removed_pre
    shard_skew = None
    if doc_map_out is not None:
        shard_skew = results[i]; i += 1
    sum_dl = int(meta.get("sum_dl", round(meta["avgdl"] * meta["n_docs"]))) \
        - sum_dl_removed + sum_dl_new

    elapsed = max(time.perf_counter() - t0, 1e-9)
    metrics = {
        "docs_processed": n_delta,
        "docs_skipped": n_in - n_delta,
        "docs_removed": n_removed,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "repack_mode": repack,
        **({"df_source": df_src_used} if df_src_used else {}),
        "n_shards_repacked": len(delta_shards),
        "n_shards_carried": len(carry_shards),
        "n_packed_units": len(units) + (1 if repack == "segment" and n_delta > 0 else 0),
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(n_delta / elapsed, 2),
        "postings_per_sec": round(n_postings / elapsed, 2),
        "skew_ratio_term_bucket": round(bucket_skew, 3),
    }
    if shard_skew is not None:
        metrics["skew_ratio_doc_shard"] = round(shard_skew, 3)
    meta_out = dict(
        meta,
        segments=segments,
        packed_base_seq=base_seq_new,
        n_docs=n_docs,
        sum_dl=sum_dl,
        avgdl=avgdl,
        avgdl_exact=(sum_dl / n_docs) if n_docs else 0.0,
        config=__import__("json").loads(cfg.to_json()),  # the cfg actually used
    )
    name = store.commit_snapshot(
        {
            "term_stats": term_stats,
            "packed": packed_delta,
            "tombstones": tombstones,
            **({"doc_map": doc_map_out} if doc_map_out is not None else {}),
        },
        meta_out,
        metrics,
        carry_packed=(old_snapshot, carry_shards),
        expected_parent=parent,
    )
    for df in to_unpersist:
        df.unpersist()
    if auto_maintain:
        # the update itself has COMMITTED; a maintenance failure must not
        # masquerade as an update failure (the caller would retry a change
        # that already landed) — surface it as a warning instead
        try:
            maintained = maintain(spark, store)
            if maintained:
                name = store.current_snapshot()
        except Exception as e:  # pragma: no cover - defensive
            import warnings

            warnings.warn(
                f"post-commit maintenance failed (update {name} is intact): {e}",
                RuntimeWarning,
                stacklevel=2,
            )
    return name


def compact_packs(spark: SparkSession, store: IndexStore) -> str:
    """Fold all packed units (base + per-segment packs) into ONE base pack —
    the Lucene segment-merge, restricted to the query-serving structure:

    - reads every unit's packed rows (decode), drops each unit's dead docs,
      unions, repacks with the epoch-pinned avgdl -> one fresh base
    - NO re-tokenization, NO postings/segment rewrite: segments + tombstones
      stay as they are (the segment frames still need them); only
      packed/doc_map are rebuilt and packed_base_seq advances to the newest
      segment, so no doc is dead in the new base
    - cost is O(total packed bytes), independent of raw corpus size

    Streaming cadence: micro-batches append one unit each
    (update_index(repack='segment')); run compact_packs when the unit count
    makes query fan-out noticeable; run build_full for FULL compaction
    (segments folded, tombstones cleared, avgdl re-pinned).
    """
    t0 = time.perf_counter()
    parent = store.current_snapshot()  # optimistic-concurrency token
    meta = store.meta()
    cfg = store.config()
    avgdl = float(meta["avgdl"])
    units = store.packed_units(spark)
    tomb_df = store.load(spark, "tombstones")
    if len(units) == 1 and tomb_df.limit(1).count() == 0:
        return parent

    flat = None
    for seq, packed_df, dm_df in units:
        part = unpack_postings(packed_df, dm_df)
        # drop this unit's dead docs via a broadcast anti-join (tombstones
        # are churn-sized) — never a driver-side isin list
        part = part.join(
            F.broadcast(
                tomb_df.filter(F.col("before_seq") > F.lit(int(seq))).select("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
        flat = part if flat is None else flat.unionByName(part)
    repack_input = flat.select("term", "doc_id", "tf", "dl")

    term_stats = store.load(spark, "term_stats")
    n_docs = int(meta["n_docs"])
    packed = build_packed_index(repack_input, term_stats, n_docs, avgdl, cfg)
    doc_map_out = None
    if cfg.ordinal_docids:
        shard_col = doc_shard(cfg.n_doc_shards)
        doc_map_out = build_doc_map(repack_input.withColumn("shard", shard_col))
        packed = ordinalize_packed(packed, doc_map_out)

    new_base_seq = max(store.seg_seq(s) for s in meta["segments"])
    elapsed = max(time.perf_counter() - t0, 1e-9)
    metrics = {
        "compaction": "packs",
        "units_folded": len(units),
        "elapsed_sec": round(elapsed, 3),
        "skew_ratio_doc_shard": round(_doc_shard_skew(doc_map_out) or 1.0, 3),
    }
    meta_out = dict(meta, packed_base_seq=new_base_seq)
    return store.commit_snapshot(
        {
            "term_stats": term_stats,
            "packed": packed,
            "tombstones": tomb_df,
            **({"doc_map": doc_map_out} if doc_map_out is not None else {}),
        },
        meta_out,
        metrics,
        expected_parent=parent,
    )


def compact_full(spark: SparkSession, store: IndexStore) -> str:
    """FULL compaction without re-supplying the corpus: rebuild from the
    tokenize checkpoint's live rows (the same doc-recovery move as migrate,
    at the same analyzer version) — folds every segment into one, clears
    tombstones, re-pins avgdl to the exact running value.  Requires a store
    maintained with checkpoint=True (the default); zero re-tokenization (the
    rebuild's checkpoint anti-join skips every doc)."""
    meta = store.meta()
    cfg = store.config()
    ckpt = store.load_checkpoint(spark)
    if ckpt is None:
        raise ValueError(
            "compact_full needs the tokenize checkpoint; this store has none "
            "— run build_full(docs=<corpus>) instead"
        )
    v = int(meta["analyzer_version"])
    live = store.load(spark, "manifest").filter(
        (F.col("status") == "ok") & (F.col("analyzer_version") == v)
    ).select("doc_id", "content_sha256")
    docs = (
        ckpt.filter((F.col("analyzer_version") == v) & F.col("error").isNull())
        .select(
            "repo", "path", "commit", "lang", "content",
            "doc_id", "content_sha256",
        )
        .join(live, ["doc_id", "content_sha256"], "left_semi")
        .dropDuplicates(["doc_id", "content_sha256"])
    ).cache()
    # coverage guard: a store built with checkpoint=False but updated with
    # checkpoint=True has a PARTIAL checkpoint — rebuilding from it would
    # silently drop every non-checkpointed doc.  Refuse instead.
    n_cover, n_live = docs.count(), live.count()
    if n_cover != n_live:
        docs.unpersist()
        raise ValueError(
            f"tokenize checkpoint covers {n_cover}/{n_live} live docs; "
            "refusing a lossy full compaction — run build_full(docs=<corpus>)"
        )
    name = build_full(spark, docs, store, cfg, checkpoint=True)
    docs.unpersist()
    return name


def _n_packed_units(store: IndexStore) -> int:
    """Unit count from meta + directory probes only — no Spark reads, so the
    per-update maintenance check costs microseconds."""
    import os

    meta = store.meta()
    base_seq = int(meta.get("packed_base_seq", 0))
    n = 1
    for seg in meta.get("segments", []):
        if IndexStore.seg_seq(seg) > base_seq and os.path.isdir(
            os.path.join(store.segments_dir, seg, "packed")
        ):
            n += 1
    return n


def maintain(
    spark: SparkSession,
    store: IndexStore,
    max_units: int | None = None,
    max_tombstone_ratio: float | None = None,
    max_tombstones: int | None = None,
) -> list[str]:
    """Tiered maintenance ladder (the Lucene merge-policy analogue), run
    automatically after every update_index commit — the reference runs its
    maintenance inline on every library update
    (/root/reference/src/library.rs:1040-1084).  A streaming store therefore
    never accretes units/tombstones unboundedly (round-2 residual #2).

    rung 1 — packed-unit fan-out: more than cfg.compact_max_units units
      (accumulated by segment-mode / streaming micro-batch updates) ->
      compact_packs folds them into one base.  O(total packed bytes), no
      re-tokenization, segments untouched.
    rung 2 — tombstone churn: tombstones exceeding
      cfg.compact_max_tombstone_ratio * n_docs OR the absolute
      cfg.compact_max_tombstones ceiling (the ratio alone is corpus-
      fraction-sized: 0.25 of 10^9 docs is 2.5e8 rows of dead-set debt)
      -> compact_full rebuilds from the checkpoint (folds segments, clears
      tombstones, re-pins avgdl) — this bounds the churn-sized dead-set
      frames every query cogroupes.  Skipped when the store has no
      checkpoint (rung 1 still applies).

    Thresholds <= 0 disable a rung.  Returns the actions taken ([] = store
    healthy; the common case — two directory probes and one tiny count)."""
    meta = store.meta()
    if "segments" not in meta:
        return []
    cfg = store.config()
    if max_units is None:
        max_units = cfg.compact_max_units
    if max_tombstone_ratio is None:
        max_tombstone_ratio = cfg.compact_max_tombstone_ratio
    if max_tombstones is None:
        max_tombstones = cfg.compact_max_tombstones
    actions: list[str] = []
    n_docs = max(int(meta.get("n_docs", 0)), 1)
    n_tomb = store.tombstone_rows()
    if n_tomb is None:  # pyarrow unavailable: pay the Spark count
        n_tomb = store.load(spark, "tombstones").count()
    over_ratio = max_tombstone_ratio > 0 and n_tomb > max_tombstone_ratio * n_docs
    over_abs = max_tombstones > 0 and n_tomb > max_tombstones
    if (over_ratio or over_abs) and store.has_checkpoint():
        try:
            compact_full(spark, store)
            return ["compact_full"]  # subsumes rung 1: 1 unit, 0 tombstones
        except ValueError:
            # partial checkpoint (store once built/updated with
            # checkpoint=False): a lossy rebuild is refused — fall through
            # to rung 1; the operator owns running build_full(docs).
            pass
    if max_units > 0 and _n_packed_units(store) > max_units:
        compact_packs(spark, store)
        actions.append("compact_packs")
    return actions


def migrate(
    spark: SparkSession,
    store: IndexStore,
    new_cfg: IndexConfig,
    docs: DataFrame | None = None,
) -> str:
    """Move a store to a newer analyzer_version — the reference's ordered
    in-place migration chain (/root/reference/src/library.rs:530-591, applied
    at :631-681) expressed as snapshots:

    - source rows come from the tokenize CHECKPOINT (which retains the raw
      content columns), restricted to the manifest's live ok docs — no
      re-supplying of the corpus needed; pass ``docs`` to migrate a store
      built without checkpoints (or to also retry previously-failed docs,
      which have no usable checkpoint content)
    - the rebuild itself checkpoints under the NEW version, so a migration
      killed halfway resumes without re-tokenizing what it already did
      (the checkpoint anti-join is version-aware)
    - stale old-version checkpoint rows are GC'd afterwards — previously they
      accumulated forever

    Downgrades are refused (like the reference, which only walks the
    migration list forward); equal versions are a no-op.
    """
    meta = store.meta()
    old_v, new_v = int(meta["analyzer_version"]), int(new_cfg.analyzer_version)
    if new_v == old_v:
        return store.current_snapshot()
    if new_v < old_v:
        raise ValueError(
            f"store is at analyzer_version={old_v}; refusing to downgrade to "
            f"{new_v} (migrations only move forward)"
        )
    if docs is None:
        ckpt = store.load_checkpoint(spark)
        if ckpt is None:
            raise ValueError(
                "store has no tokenize checkpoint to migrate from; re-run "
                "migrate(..., docs=<corpus>) with the document source"
            )
        live = store.load(spark, "manifest").filter(
            (F.col("status") == "ok") & (F.col("analyzer_version") == old_v)
        ).select("doc_id", "content_sha256")
        docs = (
            ckpt.filter(F.col("analyzer_version") == old_v)
            .select(
                "repo", "path", "commit", "lang", "content",
                "doc_id", "content_sha256",
            )
            .join(live, ["doc_id", "content_sha256"], "left_semi")
            .dropDuplicates(["doc_id", "content_sha256"])
        )
    name = build_full(spark, docs, store, new_cfg, checkpoint=True)
    store.gc_checkpoint(spark, keep_version=new_v)
    return name


def query_index(
    spark: SparkSession,
    store: IndexStore,
    query_text: str,
    k: int = 10,
    use_wand: bool = True,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Answer a query from the CURRENT snapshot (WAND or exhaustive).
    ``allowed`` (a (doc_id) frame) restricts the exact top-k to matching
    docs — metadata-filtered search, Lucene filter semantics (corpus stats
    unchanged); it always routes through the units path, whose kernel
    carries the allow mask next to the dead sets."""
    meta = store.meta()
    cfg = store.config()
    term_stats = store.load(spark, "term_stats")
    if use_wand:
        from bliss_rs_spark.operators.wand import wand_topk, wand_topk_units

        units = store.packed_units(spark) if "segments" in meta else None
        has_tomb = store.has_tombstones(spark) if units is not None else False
        if allowed is not None and units is None:
            # layout-1 store: treat the single pack as one unit
            packed = store.load(spark, "packed")
            doc_map = store.load(spark, "doc_map") if cfg.ordinal_docids else None
            units = [(0, packed, doc_map)]
        if units is not None and (len(units) > 1 or has_tomb or allowed is not None):
            return wand_topk_units(
                spark, units, term_stats, meta["avgdl"], query_text, k, cfg,
                tombstones=store.tombstone_frame(spark) if has_tomb else None,
                allowed=allowed,
            )
        packed = store.load(spark, "packed")
        doc_map = store.load(spark, "doc_map") if cfg.ordinal_docids else None
        return wand_topk(
            spark, packed, term_stats, meta["avgdl"], query_text, k, cfg,
            doc_map=doc_map,
        )
    from bliss_rs_spark.operators.bm25 import bm25_topk

    postings = store.load(spark, "postings")
    if allowed is not None:
        # Lucene filter semantics on the exhaustive path too (round-5 ADVICE
        # medium: `allowed` was silently ignored here): restrict the match
        # relation BEFORE the top-k; corpus stats (idf, avgdl) stay global,
        # so per-doc scores are identical to the unfiltered run's.
        postings = postings.join(
            allowed.select("doc_id"), "doc_id", "left_semi"
        )
    return bm25_topk(spark, postings, term_stats, meta["avgdl"], query_text, k, cfg)


def query_index_batch(
    spark: SparkSession,
    store: IndexStore,
    queries: list[tuple[int, str, int]],
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Answer a whole query set from the CURRENT snapshot in ONE Spark job
    (WAND batch kernel), units- and tombstone-aware.  Returns
    (query_id, rank, doc_id, score).  ``allowed`` restricts every query in
    the set to the filter's docs (one shared allow-set computation)."""
    from bliss_rs_spark.operators.wand import wand_topk_batch

    meta = store.meta()
    cfg = store.config()
    return wand_topk_batch(
        spark,
        None,
        store.load(spark, "term_stats"),
        meta["avgdl"],
        queries,
        cfg,
        units=store.packed_units(spark),
        # the probe keeps tombstone-free stores on the meta-less fast plan;
        # with churn the frame goes through distributed (never collected)
        tombstones=(
            store.tombstone_frame(spark) if store.has_tombstones(spark) else None
        ),
        allowed=allowed,
    )


def phrase_query(
    spark: SparkSession,
    store: IndexStore,
    phrase: str,
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-k from the CURRENT snapshot's positional postings
    (requires the index to have been built with cfg.store_positions)."""
    cfg = store.config()
    if not cfg.store_positions:
        raise ValueError(
            "index was built without positions; rebuild with "
            "IndexConfig(store_positions=True) to run phrase queries"
        )
    from bliss_rs_spark.operators.phrase import phrase_topk

    positional = store.load(spark, "positional")
    return phrase_topk(spark, positional, phrase, k, cfg)


def _store_trigram(spark: SparkSession, store: IndexStore) -> DataFrame:
    cfg = store.config()
    if not cfg.store_trigrams:
        raise ValueError(
            "index was built without trigrams; rebuild with "
            "IndexConfig(store_trigrams=True) to run substring/regex queries"
        )
    # store.load unions the live segments and applies tombstones — delta
    # segments' grams appear, deleted docs' grams drop, same as postings
    return store.load(spark, "trigram")


def substring_query(
    spark: SparkSession,
    store: IndexStore,
    docs: DataFrame,
    needle: str,
    case_insensitive: bool = False,
) -> DataFrame:
    """grep tier from the CURRENT snapshot: trigram-AND candidates out of
    the store (tombstone-filtered by load), exact `contains` verify against
    the SOURCE documents frame — the index prunes, the source table is the
    content of record (the store persists no content, like any secondary
    index).  The store's trigram layout is case-FOLDED, so
    ``case_insensitive`` (grep -i) rides the same frame."""
    from bliss_rs_spark.operators.trigram import substring_search

    return substring_search(
        docs, _store_trigram(spark, store), needle,
        case_insensitive=case_insensitive, index_lowercased=True,
    )


def substring_query_lines(
    spark: SparkSession,
    store: IndexStore,
    docs: DataFrame,
    needle: str,
    case_insensitive: bool = False,
) -> DataFrame:
    """grep -n from the CURRENT snapshot: (doc_id, line_no, col, line) of
    every matching line — same trigram pruning as substring_query, the
    verify IS the line filter (operators/trigram.py:substring_search_lines).
    Reference analogue: results as full rows with metadata, not bare ids
    (/root/reference/src/library.rs:1356-1373)."""
    from bliss_rs_spark.operators.trigram import substring_search_lines

    return substring_search_lines(
        docs, _store_trigram(spark, store), needle,
        case_insensitive=case_insensitive, index_lowercased=True,
    )


def regex_query(
    spark: SparkSession, store: IndexStore, docs: DataFrame, pattern: str
) -> DataFrame:
    """Regex grep from the CURRENT snapshot (required-literal pruning +
    rlike verify; see operators/trigram.py; anchor probes folded to match
    the store's layout)."""
    from bliss_rs_spark.operators.trigram import regex_search

    return regex_search(
        docs, _store_trigram(spark, store), pattern, index_lowercased=True
    )


def search_index(
    spark: SparkSession, store: IndexStore, query_string: str, k: int = 10
) -> DataFrame:
    """Unified query-string search against the CURRENT snapshot: the whole
    grammar (+must -not should \"phrase\" pref* term~N field:val) over the
    store's live frames.  Field filters resolve against doc_stats; phrases
    need a store built with store_positions (ValueError otherwise, raised
    by search()).  All frames come through store.load, so tombstones and
    delta segments apply uniformly."""
    from bliss_rs_spark.operators.search import parse_query, search

    meta = store.meta()
    cfg = store.config()
    spec = parse_query(query_string)
    positional = None
    if spec.phrases:
        if not cfg.store_positions:
            raise ValueError(
                "query has phrases but the index was built without "
                "store_positions"
            )
        positional = store.load(spark, "positional")
    doc_stats = store.load(spark, "doc_stats") if spec.filters else None
    # indexed expansions: when the store carries the reversed-term /
    # deletion-variant tables for the CURRENT snapshot
    # (build_expansion_tables), suffix and fuzzy groups come from pushed
    # prefix / isin scans over them instead of a per-query vocab pass —
    # the 10^12-vocab path the tables exist for (round-5 verdict #3)
    reversed_terms, variants, var_dist = load_expansion_tables(
        spark, store, need_suffix=bool(spec.suffixes), need_fuzzy=bool(spec.fuzzies)
    )
    if variants is not None and any(d > var_dist for _, _, d in spec.fuzzies):
        variants = None  # table built shallower than the query asks; scan path
    return search(
        spark,
        store.load(spark, "postings"),
        store.load(spark, "term_stats"),
        meta["avgdl"],
        query_string,
        k,
        cfg,
        doc_stats=doc_stats,
        positional=positional,
        reversed_terms=reversed_terms,
        variants=variants,
    )


def _expansions_dir(store: IndexStore) -> str:
    import os

    return os.path.join(
        store.path, "derived", "expansions", store.current_snapshot()
    )


def build_expansion_tables(
    spark: SparkSession, store: IndexStore, fuzzy_max_dist: int = 2
) -> str:
    """Materialize the CURRENT snapshot's indexed expansion tables:

    - ``reversed_terms`` (rterm, term, idf), written SORTED by rterm so a
      leading-wildcard query becomes a pushed StringStartsWith prefix scan
      (operators/query_ops.py:build_reversed_terms — the Lucene
      reversed-term-dictionary trick);
    - ``deletion_variants`` (variant, term, idf), the SymSpell
      deletion-neighborhood table queried by a pushed isin on variant
      (operators/query_ops.py:build_deletion_variants).

    Both are derived, snapshot-keyed state (``derived/expansions/<vNNNNN>``
    — gc() prunes expired snapshots' tables); search_index consults them
    automatically when present.  Vocabulary-sized, corpus-dwarfed: at
    10^12 docs the vocab is ~10^8 terms, so the build is one small job."""
    import json as _json
    import os
    import shutil
    import uuid

    from bliss_rs_spark.operators.query_ops import (
        build_deletion_variants,
        build_reversed_terms,
    )
    from bliss_rs_spark.sources.index_store import _ensure_schema_file

    out = _expansions_dir(store)
    if os.path.isdir(out):
        return out
    ts = store.load(spark, "term_stats")
    tmp = out + ".tmp-" + uuid.uuid4().hex[:8]
    rt = build_reversed_terms(ts).sort("rterm")
    rt.write.mode("overwrite").parquet(os.path.join(tmp, "reversed_terms"))
    _ensure_schema_file(rt, os.path.join(tmp, "reversed_terms"))
    dv = build_deletion_variants(ts, max_dist=fuzzy_max_dist).sort("variant")
    dv.write.mode("overwrite").parquet(os.path.join(tmp, "deletion_variants"))
    _ensure_schema_file(dv, os.path.join(tmp, "deletion_variants"))
    with open(os.path.join(tmp, "expansions.json"), "w") as fh:
        _json.dump({"fuzzy_max_dist": int(fuzzy_max_dist)}, fh)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won
    return out


def load_expansion_tables(
    spark: SparkSession,
    store: IndexStore,
    need_suffix: bool = True,
    need_fuzzy: bool = True,
) -> tuple[DataFrame | None, DataFrame | None, int]:
    """-> (reversed_terms, deletion_variants, fuzzy_max_dist) for the
    CURRENT snapshot, or Nones where absent/unneeded (scan-path fallback —
    presence of the tables is a pure optimization, tested expansion-
    identical)."""
    import json as _json
    import os

    d = _expansions_dir(store)
    rt = dv = None
    dist = 0
    if need_suffix and os.path.isdir(os.path.join(d, "reversed_terms")):
        rt = read_parquet(spark, os.path.join(d, "reversed_terms"))
    if need_fuzzy and os.path.isdir(os.path.join(d, "deletion_variants")):
        dv = read_parquet(spark, os.path.join(d, "deletion_variants"))
        try:
            with open(os.path.join(d, "expansions.json")) as fh:
                dist = int(_json.load(fh).get("fuzzy_max_dist", 0))
        except (OSError, ValueError):
            dist = 0
    return rt, dv, dist


def checkpoint_seed_terms(
    spark: SparkSession,
    store: IndexStore,
    seed_doc_id: int,
    cfg: IndexConfig | None = None,
) -> DataFrame | None:
    """(doc_id, term, tf) of ONE document out of the doc-keyed tokenize
    checkpoint (None on checkpoint-less stores).  The doc_id equality is a
    PUSHED parquet predicate with row-group pruning — an O(1-doc) lookup,
    vs the full postings pass `filter(doc_id)` costs on the term_bucket-
    partitioned postings layout."""
    cfg = cfg or store.config()
    ckpt = store.load_checkpoint(spark)
    if ckpt is None:
        return None
    # restrict to the seed's CURRENT live content: the append-only
    # checkpoint retains rows for every sha a doc ever had (and for docs
    # since tombstoned) — without this semi-join against the tombstone-
    # filtered doc_stats a content-changing upsert would mix stale and
    # current terms into the seed vector, and a deleted doc would still
    # seed (round-6 ADVICE medium).  The doc_id equality pushes into both
    # scans; duplicate checkpoint rows of the same (doc, sha) collapse to
    # one (deterministic: identical tokenizer output).
    live = (
        store.load(spark, "doc_stats")
        .filter(F.col("doc_id") == F.lit(int(seed_doc_id)))
        .select("doc_id", "content_sha256")
    )
    return (
        ckpt.filter(
            (F.col("doc_id") == F.lit(int(seed_doc_id)))
            & (F.col("analyzer_version") == cfg.analyzer_version)
        )
        .join(F.broadcast(live), ["doc_id", "content_sha256"], "left_semi")
        .dropDuplicates(["doc_id"])
        .select("doc_id", F.explode(F.arrays_zip("terms", "tfs")).alias("t"))
        .select(
            "doc_id",
            F.col("t.terms").alias("term"),
            F.col("t.tfs").alias("tf"),
        )
    )


def more_like_this_query(
    spark: SparkSession,
    store: IndexStore,
    seed_doc_id: int,
    k: int = 10,
    top_terms: int = 10,
) -> DataFrame:
    """Similarity-by-example from the CURRENT snapshot.

    The seed's term vector comes from the DOC-KEYED tokenize checkpoint
    when present (round-5 verdict #3: postings partition by term_bucket, so
    `filter(doc_id == seed)` over postings prunes nothing — a full postings
    pass to fetch one doc's vector; the checkpoint's doc-major layout turns
    the lookup into a pushed doc_id predicate with row-group pruning).
    Falls back to the postings scan on checkpoint-less stores."""
    from bliss_rs_spark.operators.query_ops import more_like_this

    meta = store.meta()
    cfg = store.config()
    seed_terms = checkpoint_seed_terms(spark, store, seed_doc_id, cfg)
    if seed_terms is not None and seed_terms.limit(1).count() == 0:
        # seed not covered by the checkpoint (checkpoint=False update) —
        # fall back to the postings scan instead of silently returning an
        # empty frame (round-6 ADVICE medium).  A genuinely tombstoned or
        # unknown seed stays empty on the postings path too (the load is
        # tombstone-filtered), which is the correct "deleted docs cannot
        # seed" semantics.
        seed_terms = None
    return more_like_this(
        spark,
        store.load(spark, "postings"),
        store.load(spark, "term_stats"),
        meta["avgdl"],
        seed_doc_id,
        k,
        top_terms,
        cfg,
        seed_terms=seed_terms,
    )
