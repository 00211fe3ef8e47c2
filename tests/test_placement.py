"""Placement (functions/placement.py): the one hash behind every store's
layout, and its driver twin.

- ``buckets_of`` equals Spark's ``pmod(xxhash64(v), n)`` value by value:
  multibyte UTF-8, empty strings, and both XXH64 paths (under 32 bytes and
  the 32-byte stripe loop).
- The Column forms spell exactly the inline expression they replaced, so
  stored layouts and plan text are unchanged.
- Planning a BM25, boolean or substring query over never-seen terms/grams
  runs no Spark job (the bucket list is hashed on the driver).
"""

import random
import uuid

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import synth_documents, with_invariants
from bliss_rs_spark.functions.placement import buckets_of, doc_shard, hash_bucket
from bliss_rs_spark.operators.bm25 import bm25_topk
from bliss_rs_spark.operators.build_index import build_index_frames
from bliss_rs_spark.operators.query_ops import boolean_topk
from bliss_rs_spark.operators.trigram import build_trigram_index, substring_candidates

NS = (32, 64, 1024)
CFG = IndexConfig(n_term_buckets=8)

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=70
)


def _spark_buckets(spark, values):
    """{n: [bucket of each value]} computed by Spark, in input order."""
    rows = (
        spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v string")
        .select("i", *[hash_bucket("v", n).alias(f"b{n}") for n in NS])
        .orderBy("i")
        .collect()
    )
    return {n: [r[f"b{n}"] for r in rows] for n in NS}


@settings(max_examples=25, deadline=None)
@given(st.lists(_text, min_size=1, max_size=40))
@example(["", "a", "é", "ß", "İ", "漢字", "🙂", "x" * 31, "x" * 32, "y" * 33])
@example(["é" * 16, "🙂" * 8, "漢" * 11, "mixed é ß İ 漢字 🙂 " * 5, "a" * 100])
def test_buckets_of_matches_spark(spark, values):
    want = _spark_buckets(spark, values)
    for n in NS:
        assert [buckets_of([v], n) for v in values] == [[b] for b in want[n]]
        assert buckets_of(values, n) == sorted(set(want[n]))


def test_column_forms_are_the_inline_expression():
    inline = F.pmod(F.xxhash64("term"), F.lit(8)).cast("int")
    assert str(hash_bucket("term", 8)) == str(inline)
    shard = F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
    assert str(doc_shard(4)) == str(shard)


@pytest.fixture(scope="module")
def frames(spark):
    docs = with_invariants(synth_documents(spark, 60, seed=5))
    idx = build_index_frames(docs, CFG)
    return idx, build_trigram_index(docs)


def _jobs_in_group(spark, gid, fn):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(gid))


def test_cold_query_planning_runs_no_job(spark, frames):
    """Fresh words and grams every run, so no cache could answer them."""
    idx, tri = frames
    rnd = random.Random(uuid.uuid4().int)
    words = ["".join(rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(14)) for _ in range(3)]
    needle = "".join(chr(0x4E00 + rnd.randrange(20_000)) for _ in range(8))

    def plan():
        bm25_topk(spark, idx.postings, idx.term_stats, idx.avgdl, " ".join(words), 5, CFG)
        boolean_topk(
            spark, idx.postings, idx.term_stats, idx.avgdl,
            must=words[0], should=words[1], must_not=words[2], k=5, cfg=CFG,
        )
        substring_candidates(tri, needle)

    assert _jobs_in_group(spark, f"plan_{uuid.uuid4().hex}", plan) == []
    # positive control: the counter sees an action in the group
    assert _jobs_in_group(spark, f"ctl_{uuid.uuid4().hex}", lambda: spark.range(3).count())
