"""Physical-plan audits: assert the plan PROPERTIES the engine is designed
around (PLANS.md documents them; this pins them against regression).  At
100 TB these are the difference between scanning megabytes per query and
scanning the corpus:

- query-term predicates reach the parquet scan (PushedFilters) and the
  partition layout (term_bucket / shard directory pruning)
- the only query-time join is the broadcast idf lookup — a shuffle join
  appearing here would be a cluster-killer
- top-k compiles to TakeOrderedAndProject (per-partition heap + driver
  merge), never a global sort
- narrow projections prune the read schema at the scan
"""

import pytest
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import synth_documents, with_invariants
from bliss_rs_spark.plans.lifecycle import build_full
from bliss_rs_spark.sources.index_store import IndexStore

CFG = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8)


def _explain(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    s = IndexStore(str(tmp_path_factory.mktemp("plans") / "idx"))
    docs = with_invariants(synth_documents(spark, 200, seed=42))
    build_full(spark, docs, s, CFG, checkpoint=False)
    return s


def test_bm25_plan_pushdown_broadcast_topk(spark, store):
    """The exhaustive BM25 plan: both predicates at the scan, directory
    pruning on term_bucket, broadcast-only join, TakeOrderedAndProject."""
    from bliss_rs_spark.operators.bm25 import bm25_topk

    postings = store.load(spark, "postings")
    term_stats = store.load(spark, "term_stats")
    df = bm25_topk(
        spark, postings, term_stats, store.meta()["avgdl"], "varbyte merge return", 10, CFG
    )
    plan = _explain(df)
    assert "PushedFilters" in plan and "In(term, [" in plan, plan[:2000]
    assert "PartitionFilters" in plan and "term_bucket" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, never a global Sort+Limit


def test_packed_scan_prunes_shards_and_terms(spark, store):
    """The WAND path's packed scan: term predicate pushed, shard partition
    dirs pruned, and the read schema limited to the selected columns."""
    packed = store.load(spark, "packed")
    df = packed.filter(
        F.col("term").isin(["varbyte", "merge"]) & F.col("shard").isin([0, 1])
    ).select("term", "shard", "blocks")
    plan = _explain(df)
    assert "PushedFilters" in plan and "In(term, [" in plan
    assert "PartitionFilters" in plan and "shard" in plan
    # column pruning: dl/doc metadata frames aren't dragged into the scan
    assert "ReadSchema" in plan


def test_narrow_projection_prunes_read_schema(spark, store):
    """A 2-column projection over doc_stats must not read every column."""
    doc_stats = store.load(spark, "doc_stats")
    df = doc_stats.select("doc_id", "dl")
    plan = _explain(df)
    seg = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "doc_id" in seg and "dl" in seg
    assert "content" not in seg and "repo" not in seg, seg


def test_incremental_anti_join_broadcasts(spark, store):
    """The update path's skip-already-analyzed anti-join must broadcast the
    manifest side (delta-sized probes, no shuffle of the incoming corpus)."""
    docs = with_invariants(synth_documents(spark, 220, seed=42))
    manifest = store.load(spark, "manifest").select("doc_id", "content_sha256")
    delta = docs.join(F.broadcast(manifest), ["doc_id", "content_sha256"], "left_anti")
    plan = _explain(delta)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_phrase_server_plan_is_shuffle_free(spark):
    """PhraseServer's per-query plan must stay ONE stage: in-memory scan of
    the persisted pack -> filter -> mapInPandas, with NO Exchange — the
    repartition happens once at init, never per query."""
    from bliss_rs_spark.operators.phrase import (
        PhraseServer,
        build_positional_postings,
    )

    docs = with_invariants(synth_documents(spark, 120, seed=9))
    pos = build_positional_postings(docs, CFG)
    for packed in (True, False):
        server = PhraseServer(spark, pos, CFG, packed=packed)
        try:
            df = server._plan_for("fast merge", 10)
            plan = _explain(df)
            # the cached relation's stored BUILD plan (the one-time init
            # repartition) legitimately contains an Exchange; the per-query
            # plan above it must not
            query_side = plan.split("InMemoryRelation")[0]
            assert "InMemoryTableScan" in query_side, plan[:2000]
            assert "Exchange" not in query_side, plan[:2000]
        finally:
            server.close()


def test_serving_plan_exchange_free_under_churn(spark, tmp_path):
    """Round 5: with tombstones in play, every server's per-query plan must
    still contain NO Exchange of any kind (dead sets ride in as a broadcast
    VARIABLE, not a per-query broadcast JOIN — the join re-collected and
    re-shipped the dead frame on every query)."""
    from dataclasses import replace

    from bliss_rs_spark.operators.phrase import PhraseServer
    from bliss_rs_spark.operators.trigram import TrigramServer
    from bliss_rs_spark.operators.wand import WandServer
    from bliss_rs_spark.plans.lifecycle import build_full, update_index

    cfg = replace(CFG, store_positions=True, store_trigrams=True)
    s = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 150, seed=42))
    build_full(spark, docs, s, cfg, checkpoint=False)
    update_index(
        spark, docs.filter(F.col("doc_id") % 6 != 0), s, None,
        delete_missing=True, repack="segment", auto_maintain=False,
    )

    w = WandServer.from_store(spark, s)
    p = PhraseServer.from_store(spark, s)
    t = TrigramServer.from_store(spark, s, docs)
    try:
        assert w._dead_bc is not None and p._dead_bc is not None
        assert t._dead_bc is not None
        for df in (
            w._scan(["varbyte", "merge"]),
            p._scan(["fast", "merge"]),
            p._plan_for("fast merge", 10),
            t.candidates_df("fast merge"),
        ):
            plan = _explain(df)
            query_side = plan.split("InMemoryRelation")[0]
            assert "Exchange" not in query_side, query_side[:2000]
            assert "BroadcastHashJoin" not in query_side, query_side[:2000]
    finally:
        w.close()
        p.close()
        t.close()
