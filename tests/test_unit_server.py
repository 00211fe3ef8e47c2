"""The serving core every warm server shares (operators/unit_server.py).

- refresh() of an unchanged snapshot is a no-op under churn too: no Spark
  job and the same gc() pin files, for WandServer, PhraseServer and
  TrigramServer; TrigramServer.refresh(store, docs=...) still re-points
  its verify side.
- close() releases everything a server holds in every construction mode:
  gc() pins, persisted RDDs, named filters and dead-set broadcasts.
"""

import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import synth_documents, with_invariants
from bliss_rs_spark.operators.phrase import PhraseServer, build_positional_postings
from bliss_rs_spark.operators.trigram import TrigramServer, build_trigram_index
from bliss_rs_spark.operators.wand import WandServer
from bliss_rs_spark.plans.lifecycle import build_full, update_index
from bliss_rs_spark.sources.index_store import IndexStore

CFG = IndexConfig(
    block_size=16, n_doc_shards=4, n_term_buckets=8,
    store_positions=True, store_trigrams=True,
)
NEEDLE = "return"


@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    """A 2-unit store with tombstones: every 7th doc deleted by a segment
    update.  ``docs`` stays uncached: TrigramServer persists (and on close
    unpersists) the docs frame it is given."""
    store = IndexStore(str(tmp_path_factory.mktemp("unit_server") / "idx"))
    docs = with_invariants(synth_documents(spark, 80, seed=31))
    build_full(spark, docs, store, CFG, checkpoint=False)
    update_index(
        spark, docs.filter(F.col("doc_id") % 7 != 0), store, None,
        delete_missing=True, repack="segment", auto_maintain=False,
    )
    assert store.has_tombstones(spark)
    return store, docs


def _jobs_in_group(spark, gid, fn):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def _open(mode, spark, store, docs):
    if mode == "wand-direct":
        return WandServer(
            spark, None, store.load(spark, "term_stats"), store.meta()["avgdl"],
            store.config(), units=store.packed_units(spark),
            tombstones=store.tombstone_frame(spark),
        )
    if mode == "phrase-packed":
        return PhraseServer(spark, build_positional_postings(docs, CFG), CFG)
    if mode == "phrase-rows":
        return PhraseServer.from_store(spark, store, packed=False)
    if mode == "trigram-direct":
        return TrigramServer(
            spark, build_trigram_index(docs, lowercase=True), docs,
            n_doc_shards=4, index_lowercased=True,
        )
    if mode == "wand-store":
        return WandServer.from_store(spark, store)
    if mode == "phrase-store":
        return PhraseServer.from_store(spark, store)
    return TrigramServer.from_store(spark, store, docs)


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _noop_refresh_checks(spark, store, srv):
    assert srv._dead_bc is not None  # tombstones in play
    pins = sorted(os.listdir(store.pins_dir))
    assert pins
    info, jobs = _jobs_in_group(spark, "noop_refresh", lambda: srv.refresh(store))
    assert info == {"reused_units": sorted(srv._unit_frames), "rebuilt_units": []}
    assert jobs == []
    assert sorted(os.listdir(store.pins_dir)) == pins
    # the job counter is live: one action in a group shows up
    _, probe = _jobs_in_group(spark, "noop_probe", lambda: spark.range(3).count())
    assert probe


def _trigram_docs_repoint_checks(spark, store, docs, srv):
    full = set(srv.grep(NEEDLE))
    half = docs.filter(F.col("doc_id") % 2 == 0)
    info = srv.refresh(store, docs=half)
    assert info["rebuilt_units"] == []
    want = {
        r["doc_id"] for r in half.collect()
        if NEEDLE in r["content"] and r["doc_id"] % 7 != 0
    }
    got = set(srv.grep(NEEDLE))
    assert got == want and got and got < full


@pytest.mark.parametrize("mode", [
    "wand-direct", "wand-store", "phrase-packed", "phrase-rows",
    "phrase-store", "trigram-direct", "trigram-store",
])
def test_noop_refresh_and_close(spark, churned, mode):
    """from_store servers: a no-op refresh() under churn runs no job and
    keeps the pin files.  Every mode: close() releases pins, persisted
    RDDs, filters and dead-set broadcasts."""
    store, docs = churned
    before = _persisted_rdds(spark)
    srv = _open(mode, spark, store, docs)
    try:
        if hasattr(srv, "set_filter"):
            srv.set_filter("thirds", docs.filter(F.col("doc_id") % 3 == 0).select("doc_id"))
            assert srv._filters
        if mode.endswith("-store"):
            _noop_refresh_checks(spark, store, srv)
        if mode == "trigram-store":
            _trigram_docs_repoint_checks(spark, store, docs, srv)
        if mode == "wand-direct":
            assert srv._dead_bc is not None  # tombstones in play
        if "-direct" not in mode and mode != "phrase-packed":
            assert store.pinned_snapshots()
        assert _persisted_rdds(spark) > before
    except BaseException:
        srv.close()
        raise
    bcs = [f[0] for f in getattr(srv, "_filters", {}).values()]
    if srv._dead_bc is not None:
        bcs.append(srv._dead_bc)
    released = []
    for bc in bcs:
        def unpersist(*a, _bc=bc, _orig=bc.unpersist):
            released.append(_bc)
            return _orig(*a)

        bc.unpersist = unpersist

    srv.close()
    assert store.pinned_snapshots() == set()
    assert _persisted_rdds(spark) == before
    assert getattr(srv, "_filters", {}) == {}
    assert sorted(map(id, released)) == sorted(map(id, bcs))


def test_trigram_server_keeps_callers_cache(spark, churned):
    """A docs frame the caller cached stays cached after the server that
    used it closes (Spark keys caches by plan, so unpersisting the
    server's handle would drop the caller's cache), also after
    refresh(docs=...) re-points to it; a frame the server persisted
    itself is released."""
    store, docs = churned
    mine = docs.filter(F.col("doc_id") % 2 == 0).cache()
    mine.count()
    try:
        before = _persisted_rdds(spark)
        srv = TrigramServer(
            spark, build_trigram_index(mine, lowercase=True), mine,
            n_doc_shards=4, index_lowercased=True,
        )
        srv.close()
        assert mine.storageLevel != StorageLevel.NONE
        assert _persisted_rdds(spark) == before
        srv = TrigramServer.from_store(spark, store, docs)
        srv.refresh(store, docs=mine)
        srv.close()
        assert mine.storageLevel != StorageLevel.NONE
        assert _persisted_rdds(spark) == before
    finally:
        mine.unpersist()
