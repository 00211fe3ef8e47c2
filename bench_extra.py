"""Diagnostic sibling of bench.py (guide §1: measure first; §1.4 noop sink).

bench.py is FROZEN for measurement; this file exists so the optimization
round can (a) count Spark JOBS per stage (each driver-side action costs a
fixed scheduling round-trip — at sf0.1 most stages are job-count-bound, so
"fewer jobs" is the lever §1.2 step 1 points at), and (b) time isolated
stages with the noop sink without the collect()/write noise.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [stage ...]

Prints one line per stage: name, wall sec, #jobs (via a job group +
statusTracker.getJobIdsForGroup — public API).  Stage names are
``warm:<stage>`` / ``meas:<stage>``; naming some times only those, while
the others still run untimed because later stages consume their outputs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = set(sys.argv[1:])

    from pyspark.sql import functions as F

    from bliss_rs_spark.config import IndexConfig
    from bliss_rs_spark.corpus import documents_from_testdata
    from bliss_rs_spark.session import get_spark

    spark = get_spark("bliss_rs_spark_bench_extra", cpus=cpus)
    sc = spark.sparkContext
    cfg = IndexConfig()

    docs = documents_from_testdata(spark, sf_dir).cache()
    docs.count()
    emb_path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(emb_path).cache() if os.path.isdir(emb_path) else None
    if emb is not None:
        emb.count()

    results = []

    def timed(name: str, fn) -> object:
        if only and name not in only:
            return fn()
        gid = f"bx_{name}_{time.monotonic_ns()}"
        sc.setJobGroup(gid, name)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
        results.append((name, dt, n_jobs))
        print(f"{name:36s} {dt:8.3f}s  jobs={n_jobs}", flush=True)
        return out

    query_set = [
        (1, "spark hash join", 10),
        (2, "window merge sort", 10),
        (3, "fastScanBatch", 10),
        (4, "the a big small", 10),
        (5, "stream filter table", 100),
    ]

    from bliss_rs_spark.functions.text_stats import with_quality
    from bliss_rs_spark.operators.bm25 import bm25_topk_batch
    from bliss_rs_spark.operators.build_index import build_index_frames
    from bliss_rs_spark.operators.dedup import minhash_lsh_pairs, simhash64
    from bliss_rs_spark.operators.pack import build_packed_index_full
    from bliss_rs_spark.operators.similarity import cosine_topk_by_id
    from bliss_rs_spark.operators.wand import wand_topk_batch

    # warm one rep untimed (JVM/codegen/Python-worker warmup), then measure
    for rep in ("warm", "meas"):
        idx = None

        def _build():
            i = build_index_frames(docs, cfg)
            p = i.postings.cache()
            t = i.term_stats.cache()
            p.count()
            t.count()
            return {"postings": p, "term_stats": t, "avgdl": i.avgdl,
                    "n_docs": i.n_docs}

        idx = timed(f"{rep}:index_build", _build)

        timed(f"{rep}:bm25_batch", lambda: bm25_topk_batch(
            spark, idx["postings"], idx["term_stats"], idx["avgdl"],
            query_set, cfg).collect())

        def _pack():
            packed, doc_map = build_packed_index_full(
                idx["postings"], idx["term_stats"], idx["n_docs"],
                idx["avgdl"], cfg)
            packed = packed.cache()
            packed.count()
            if doc_map is not None:
                doc_map = doc_map.cache()
                doc_map.count()
            return packed, doc_map

        packed, doc_map = timed(f"{rep}:pack_build", _pack)

        timed(f"{rep}:wand_batch", lambda: wand_topk_batch(
            spark, packed, idx["term_stats"], idx["avgdl"], query_set, cfg,
            doc_map=doc_map).collect())

        timed(f"{rep}:minhash_lsh", lambda: minhash_lsh_pairs(
            docs, n_hashes=8, bands=4, jaccard_threshold=0.05).count())
        timed(f"{rep}:simhash", lambda: simhash64(docs).count())
        if emb is not None:
            timed(f"{rep}:cosine_topk",
                  lambda: cosine_topk_by_id(emb, 0, 10).collect())
        timed(f"{rep}:quality", lambda: with_quality(docs, "content")
              .agg(F.sum("n_tokens")).collect())

        from bliss_rs_spark.operators.facets import facet_counts
        from bliss_rs_spark.operators.trigram import (
            TrigramServer,
            build_trigram_index,
            substring_search,
        )

        timed(f"{rep}:trigram_substring", lambda: substring_search(
            docs, build_trigram_index(docs), "fast merge").count())

        gsrv = timed(f"{rep}:grep_server_init", lambda: TrigramServer(
            spark, build_trigram_index(docs, lowercase=True), docs,
            n_doc_shards=cfg.n_doc_shards, index_lowercased=True))
        gsrv.grep("fast merge")
        timed(f"{rep}:grep_serve", lambda: gsrv.grep("value table"))
        timed(f"{rep}:grep_batch_4", lambda: gsrv.grep_batch(
            [(1, "fast merge"), (2, "value table"), (3, "hash join"),
             (4, "key agg")]))
        gsrv.close()

        timed(f"{rep}:facet_counts", lambda: facet_counts(
            spark, idx["postings"], docs.select("doc_id", "lang"),
            "hash join", "lang", cfg).collect())

        from bliss_rs_spark.operators.wand import WandServer

        server = WandServer(spark, packed, idx["term_stats"], idx["avgdl"],
                            cfg, doc_map)
        server.query("spark hash join", 10)
        timed(f"{rep}:wand_serve", lambda: server.query("window merge sort", 10))
        server.close()

        from bliss_rs_spark.operators.phrase import (
            PhraseServer,
            build_positional_postings,
        )

        pos = build_positional_postings(docs, cfg)
        pserver = timed(f"{rep}:phrase_pack_init",
                        lambda: PhraseServer(spark, pos, cfg))
        pserver.query("fast merge", 10)
        timed(f"{rep}:phrase_serve", lambda: pserver.query("return value", 10))
        pserver.close()

        from bliss_rs_spark.operators.search import search

        timed(f"{rep}:search_query", lambda: search(
            spark, idx["postings"], idx["term_stats"], idx["avgdl"],
            '+table merg* -vector "fast merge"', 10, cfg,
            doc_stats=docs.select("doc_id", "lang"), positional=pos).collect())

        # lifecycle
        import tempfile

        from bliss_rs_spark.plans.lifecycle import build_full, update_index
        from bliss_rs_spark.sources.index_store import IndexStore

        store = IndexStore(tempfile.mkdtemp(prefix="bx_idx_") + "/idx")
        timed(f"{rep}:snapshot_build", lambda: build_full(
            spark, docs, store, cfg, checkpoint=False))

        changed = docs.withColumn(
            "content",
            F.when(
                F.col("doc_id") % 100 == 0,
                F.concat(F.col("content"),
                         F.lit("\nzz_bench_delta zz_bench_delta")),
            ).otherwise(F.col("content")),
        ).withColumn("content_sha256", F.sha2("content", 256))
        timed(f"{rep}:incremental_update",
              lambda: update_index(spark, changed, store, cfg))

        changed2 = changed.withColumn(
            "content",
            F.when(
                F.col("doc_id") % 100 == 1,
                F.concat(F.col("content"), F.lit("\nzz_bench_seg zz_bench_seg")),
            ).otherwise(F.col("content")),
        ).withColumn("content_sha256", F.sha2("content", 256))
        timed(f"{rep}:incremental_update_segment", lambda: update_index(
            spark, changed2, store, cfg, repack="segment"))

        store2 = IndexStore(tempfile.mkdtemp(prefix="bx_idx_ck_") + "/idx")
        build_full(spark, docs, store2, cfg, checkpoint=True)
        timed(f"{rep}:incremental_update_segment_ckpt", lambda: update_index(
            spark, changed, store2, cfg, repack="segment"))

        for df in (idx["postings"], idx["term_stats"], packed):
            df.unpersist()
        if doc_map is not None:
            doc_map.unpersist()

    print("---- summary (meas rep) ----")
    for name, dt, n in results:
        if name.startswith("meas:"):
            print(f"{name[5:]:36s} {dt:8.3f}s  jobs={n}")
    spark.stop()


if __name__ == "__main__":
    main()
