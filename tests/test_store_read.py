"""Store reads plan without Spark jobs: every frame the store hands out
(``load``, ``packed_units``, ``load_checkpoint``) takes its schema from one
parquet footer read on the driver, and that schema is exactly the one
Spark's own inference would give, partition columns included."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import synth_documents, with_invariants
from bliss_rs_spark.plans.lifecycle import build_full, update_index
from bliss_rs_spark.sources.index_store import FRAMES, IndexStore, read_parquet


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    cfg = IndexConfig(store_positions=True, store_trigrams=True)
    docs = with_invariants(synth_documents(spark, 60, seed=5)).cache()
    s = IndexStore(str(tmp_path_factory.mktemp("read") / "idx"))
    build_full(spark, docs, s, cfg, checkpoint=True)
    # no tombstones yet: segment frames come back without the tombstone join
    plan = s.load(spark, "postings")._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    # one delta segment: every 7th doc changes, every 5th is deleted
    changed = F.col("doc_id") % 7 == 0
    incoming = with_invariants(
        docs.filter(F.col("doc_id") % 5 != 0)
        .withColumn(
            "content",
            F.when(changed, F.concat("content", F.lit(" zzdelta"))).otherwise(
                F.col("content")
            ),
        )
        .drop("doc_id", "content_sha256")
    )
    update_index(
        spark,
        incoming,
        s,
        None,
        delete_missing=True,
        repack="segment",
        auto_maintain=False,
    )
    docs.unpersist()
    assert s.tombstone_rows() > 0
    assert len(s.meta()["segments"]) == 2
    return s


def _jobs_run_by(spark, fn):
    sc = spark.sparkContext
    group = f"store-read-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "store read planning")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _frames(spark, store):
    out = [store.load(spark, f) for f in FRAMES]
    for _seq, packed, doc_map in store.packed_units(spark):
        out.append(packed)
        if doc_map is not None:
            out.append(doc_map)
    out.append(store.load_checkpoint(spark))
    return out


def test_store_frames_plan_without_jobs(spark, store):
    frames, jobs = _jobs_run_by(spark, lambda: _frames(spark, store))
    assert len(frames) > len(FRAMES) and all(f is not None for f in frames)
    assert jobs == [], f"store reads ran Spark jobs {jobs}"
    # positive control: the same probe sees Spark's schema-inference job
    _, control = _jobs_run_by(
        spark, lambda: spark.read.parquet(store.checkpoint_dir)
    )
    assert control, "job-group probe saw no job for an inferred read"


def _parquet_dirs(store):
    snap = store.snapshot_dir()
    dirs = [os.path.join(snap, f) for f in FRAMES if os.path.isdir(os.path.join(snap, f))]
    for seg in store.meta()["segments"]:
        seg_dir = os.path.join(store.segments_dir, seg)
        dirs += [os.path.join(seg_dir, f) for f in sorted(os.listdir(seg_dir))]
    return dirs + [store.checkpoint_dir]


def test_footer_schema_equals_inferred(spark, store):
    dirs = _parquet_dirs(store)
    partitioned = {"postings", "positional", "trigram", "packed"}
    assert partitioned <= {os.path.basename(d) for d in dirs}
    for d in dirs:
        want = spark.read.parquet(d).schema
        assert read_parquet(spark, d).schema == want, d
    # the partition columns come back as ints, as Spark infers them
    types = {
        f.name: f.dataType.simpleString()
        for d in dirs
        for f in read_parquet(spark, d).schema.fields
    }
    for col in ("term_bucket", "gram_bucket", "shard"):
        assert types[col] == "int", types
