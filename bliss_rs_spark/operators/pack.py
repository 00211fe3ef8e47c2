"""Packed posting-list construction: doc-sharded, salted, sorted-run merged,
delta+varbyte compressed, with block-max metadata.

Physical layout (one row per (shard, term)):

    shard int, term string, df int,
    blocks array<struct<first_doc long, last_doc long, n int,
                        max_tsc double, docs binary, tfs binary, dls binary>>

- ``shard = pmod(xxhash64(doc_id), n_doc_shards)``: DOC-sharded, so query-time
  top-k is shard-local and the cross-shard merge is exact (a term-partitioned
  layout cannot accumulate one doc's score without a second shuffle).
- ``max_tsc`` = per-block max of tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) — the
  idf-free score component; multiplied by idf at query time it is the block
  upper bound used by WAND pruning.
- Skew (SURVEY.md §4.1): posting rows of hot terms (df above
  cfg.hot_term_df_ratio*N) are salted into cfg.n_salts sub-groups; stage 1
  emits per-salt sorted runs, stage 2 merges the runs per (shard, term) —
  the reference's "per-partition sorted-run merge".  Cold terms take the
  same two-stage path with salt=0 (one run), so there is exactly one code
  path to test.
- Determinism: blocks depend only on the sorted (doc_id, tf, dl) set, so a
  rebuild from the same corpus is byte-identical (resumability invariant,
  cf. the reference's decoder-agnostic canonical form).

Reference parity: the exploded feature table + transactional per-song
rewrite (/root/reference/src/library.rs:1544-1633) maps to this per-(shard,
term) packed row; the reference's `UNIQUE(song_id, feature_index)` maps to
doc_ids being unique within a posting list.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.codec import encode_doc_ids, varbyte_encode
from bliss_rs_spark.functions.placement import doc_shard

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("max_tsc", T.DoubleType(), False),
        T.StructField("docs", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
    ]
)

RUN_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("docs", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
    ]
)

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df_shard", T.IntegerType(), False),
        T.StructField("blocks", T.ArrayType(BLOCK_SCHEMA), False),
    ]
)


def _tsc(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    norm = (1.0 - b) + b * dl.astype(np.float64) / float(avgdl)
    return tf * (k1 + 1.0) / (tf + k1 * norm)


def _pack_rows(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
               cfg: IndexConfig, avgdl: float) -> list[dict]:
    """Sorted postings of ONE (shard, term) -> list of block structs."""
    order = np.argsort(doc_ids, kind="stable")
    doc_ids, tfs, dls = doc_ids[order], tfs[order], dls[order]
    tsc = _tsc(tfs, dls, cfg.k1, cfg.b, avgdl)
    blocks = []
    bs = cfg.block_size
    for s in range(0, len(doc_ids), bs):
        e = min(s + bs, len(doc_ids))
        blocks.append(
            {
                "first_doc": int(doc_ids[s]),
                "last_doc": int(doc_ids[e - 1]),
                "n": int(e - s),
                "max_tsc": float(tsc[s:e].max()),
                "docs": encode_doc_ids(doc_ids[s:e]),
                "tfs": varbyte_encode(tfs[s:e].astype(np.uint64)),
                "dls": varbyte_encode(dls[s:e].astype(np.uint64)),
            }
        )
    return blocks


DOC_MAP_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),  # delta+varbyte, sorted
    ]
)


def build_doc_map(postings_sharded: DataFrame) -> DataFrame:
    """(shard, n_docs, doc_ids): each shard's sorted distinct doc_ids,
    delta+varbyte compressed.  Ordinal i <-> doc_ids[i]; the translation
    table for ordinal-compressed posting blocks.

    Input must carry a ``shard`` column.  ONE exchange: collect_set dedups
    map-side (partial aggregation) and groups by shard in the same shuffle —
    the previous distinct + groupBy.applyInPandas shape paid two exchanges
    for the identical sorted-unique result (guide §2.4).  Per-task memory is
    still bounded by shard size (collect_set holds one shard's distinct ids,
    exactly like the old per-group pandas frame), which scales with
    cfg.n_doc_shards, a config knob, not code."""

    @F.pandas_udf("binary")
    def enc(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda a: encode_doc_ids(np.asarray(a, dtype=np.int64))
        )

    return (
        postings_sharded.groupBy("shard")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .select(
            "shard",
            F.size("ids").alias("n_docs"),
            enc("ids").alias("doc_ids"),
        )
    )


def ordinalize_packed(packed: DataFrame, doc_map: DataFrame) -> DataFrame:
    """Rewrite packed blocks to store shard-local ordinals instead of raw
    doc_ids.  Cogrouped per shard: the UDF sees the shard's packed rows and
    its doc map together; ordinals come from one vectorized searchsorted per
    block.  Ordinal order == doc_id order (the map is sorted), so block
    structure, block-max metadata and all tie-break semantics are unchanged.
    """
    from bliss_rs_spark.functions.codec import decode_doc_ids

    def rewrite(key, packed_pdf: pd.DataFrame, map_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(packed_pdf) == 0:
            return pd.DataFrame(
                {"shard": [], "term": [], "df_shard": [], "blocks": []}
            )
        ids = decode_doc_ids(bytes(map_pdf["doc_ids"].iloc[0]))
        out_blocks = []
        for blocks in packed_pdf["blocks"]:
            nb = []
            for bl in blocks:
                docs = decode_doc_ids(bytes(bl["docs"]))
                ords = np.searchsorted(ids, docs).astype(np.int64)
                nb.append(
                    {
                        "first_doc": int(ords[0]),
                        "last_doc": int(ords[-1]),
                        "n": bl["n"],
                        "max_tsc": bl["max_tsc"],
                        "docs": encode_doc_ids(ords),
                        "tfs": bl["tfs"],
                        "dls": bl["dls"],
                    }
                )
            out_blocks.append(nb)
        return pd.DataFrame(
            {
                "shard": packed_pdf["shard"],
                "term": packed_pdf["term"],
                "df_shard": packed_pdf["df_shard"],
                "blocks": out_blocks,
            }
        )

    return (
        packed.groupBy("shard")
        .cogroup(doc_map.groupBy("shard"))
        .applyInPandas(rewrite, PACKED_SCHEMA)
    )


UNPACKED_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)


def unpack_postings(
    packed: DataFrame,
    doc_map: DataFrame | None = None,
) -> DataFrame:
    """Packed per-(shard, term) rows -> flat (shard, term, doc_id, tf, dl).

    The exact inverse of build_packed_index (codec roundtrip is
    hypothesis-tested in tests/test_codec.py) — the incremental-update read
    path: instead of scanning the WHOLE flat postings table to rebuild a few
    doc-shards, the updater reads only the touched ``shard=N`` packed
    partitions (partition-pruned) and decodes them back to flat postings.
    With ``doc_map`` the blocks hold shard-local ordinals and are translated
    back to raw doc_ids via the shard's sorted id list (cogrouped per shard,
    one vectorized take per block).
    """
    from bliss_rs_spark.functions.codec import decode_doc_ids, varbyte_decode

    def explode_rows(packed_pdf: pd.DataFrame, ids: np.ndarray | None):
        shards, terms, docs_out, tfs_out, dls_out = [], [], [], [], []
        for shard, term, blocks in zip(
            packed_pdf["shard"], packed_pdf["term"], packed_pdf["blocks"]
        ):
            for bl in blocks:
                d = decode_doc_ids(bytes(bl["docs"]))
                if ids is not None:
                    d = ids[d]
                n = len(d)
                shards.append(np.full(n, shard, dtype=np.int32))
                terms.extend([term] * n)
                docs_out.append(d)
                tfs_out.append(varbyte_decode(bytes(bl["tfs"])).astype(np.int64))
                dls_out.append(varbyte_decode(bytes(bl["dls"])).astype(np.int64))
        if not terms:
            return pd.DataFrame(
                {"shard": [], "term": [], "doc_id": [], "tf": [], "dl": []}
            )
        return pd.DataFrame(
            {
                "shard": np.concatenate(shards),
                "term": terms,
                "doc_id": np.concatenate(docs_out).astype(np.int64),
                "tf": np.concatenate(tfs_out),
                "dl": np.concatenate(dls_out),
            }
        )

    if doc_map is None:

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield explode_rows(pdf, None)

        return packed.mapInPandas(gen, UNPACKED_SCHEMA)

    def rewrite(key, packed_pdf: pd.DataFrame, map_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(packed_pdf) == 0 or len(map_pdf) == 0:
            return pd.DataFrame(
                {"shard": [], "term": [], "doc_id": [], "tf": [], "dl": []}
            )
        ids = decode_doc_ids(bytes(map_pdf["doc_ids"].iloc[0]))
        return explode_rows(packed_pdf, ids)

    return (
        packed.groupBy("shard")
        .cogroup(doc_map.groupBy("shard"))
        .applyInPandas(rewrite, UNPACKED_SCHEMA)
    )


def build_packed_index(
    postings: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Flat postings (term, doc_id, tf, dl) -> packed per-(shard, term) rows.

    Default path: ONE shuffle (repartition by shard) + sortWithinPartitions
    (shard, term, doc_id) + a single mapInPandas pass that slices each sorted
    Arrow batch into term groups with np.unique and carries the tail group
    across batch boundaries.  Spark's sort-shuffle IS the per-partition
    sorted-run merge (external sort of spilled runs), so skew in term df is
    absorbed by the sorter, not by any groupBy key — the hottest term costs
    only its proportional share of its shard's sort.  Python overhead is one
    UDF invocation per Arrow batch (~10k rows), not per (shard, term) group —
    this beat the grouped+salted variant by ~5x on a 2.6M-posting corpus.

    ``build_packed_index_grouped`` keeps the explicit two-stage salted
    groupBy construction (per-salt sorted runs merged per (shard, term));
    both paths are tested byte-identical, and the grouped path remains the
    fallback for layouts where a sorted shuffle isn't available.
    """
    cfg = cfg or IndexConfig()
    sharded = postings.withColumn("shard", doc_shard(cfg.n_doc_shards)).select(
        "shard", "term", "doc_id", "tf", "dl"
    )
    # sort key is (shard, term) only: the streaming packer just needs each
    # (shard, term) group contiguous — _pack_rows argsorts the group by
    # doc_id itself (stable, applied to tf/dl in lockstep), so carrying
    # doc_id through the external sort paid for ordering that was redone
    # anyway (guide §1.2 per-task work; output blocks byte-identical,
    # covered by the pack-identity tests)
    arranged = sharded.repartition(cfg.n_doc_shards, "shard").sortWithinPartitions(
        "shard", "term"
    )

    cfg_small = IndexConfig(k1=cfg.k1, b=cfg.b, block_size=cfg.block_size)

    def pack_stream(batches):
        pend = None  # (shard, term, docs, tfs, dls) tail group awaiting more rows

        def emit(shard, term, docs, tfs, dls, out):
            out["shard"].append(int(shard))
            out["term"].append(term)
            out["df_shard"].append(int(len(docs)))
            out["blocks"].append(_pack_rows(docs, tfs, dls, cfg_small, avgdl))

        for pdf in batches:
            if len(pdf) == 0:
                continue
            shards = pdf["shard"].to_numpy(np.int32)
            terms = pdf["term"].to_numpy(object)
            docs = pdf["doc_id"].to_numpy(np.int64)
            tfs = pdf["tf"].to_numpy(np.uint64)
            dls = pdf["dl"].to_numpy(np.uint64)
            # group boundaries where (shard, term) changes
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (shards[1:] != shards[:-1]) | (terms[1:] != terms[:-1])
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(pdf))

            out = {"shard": [], "term": [], "df_shard": [], "blocks": []}
            for gi, (s, e) in enumerate(zip(starts, ends)):
                g = (int(shards[s]), terms[s], docs[s:e], tfs[s:e], dls[s:e])
                if gi == 0 and pend is not None:
                    if pend[0] == g[0] and pend[1] == g[1]:
                        g = (
                            g[0],
                            g[1],
                            np.concatenate([pend[2], g[2]]),
                            np.concatenate([pend[3], g[3]]),
                            np.concatenate([pend[4], g[4]]),
                        )
                    else:
                        emit(*pend, out)
                    pend = None
                if gi == len(starts) - 1:
                    pend = g  # may continue in the next batch
                else:
                    emit(*g, out)
            if out["shard"]:
                yield pd.DataFrame(out)
        if pend is not None:
            out = {"shard": [], "term": [], "df_shard": [], "blocks": []}
            emit(*pend, out)
            yield pd.DataFrame(out)

    return arranged.mapInPandas(pack_stream, PACKED_SCHEMA)


def build_packed_index_grouped(
    postings: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Two-stage salted groupBy construction (the explicit-salting variant).

    Stage boundaries are ordinary hash shuffles on bounded keys:
    (shard, term, salt) then (shard, term) — no key ever aggregates more than
    |shard| postings of one term, and hot terms split further by salt.
    """
    cfg = cfg or IndexConfig()
    hot_thr = max(2.0, cfg.hot_term_df_ratio * n_docs)
    hot = term_stats.filter(F.col("df") >= hot_thr).select(
        "term", F.lit(True).alias("is_hot")
    )

    salted = (
        postings.join(F.broadcast(hot), "term", "left")
        .withColumn("shard", doc_shard(cfg.n_doc_shards))
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot").isNotNull(),
                F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(cfg.n_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .select("shard", "term", "salt", "doc_id", "tf", "dl")
    )

    def make_run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "term": [pdf["term"].iloc[0]],
                "n": [len(pdf)],
                "docs": [encode_doc_ids(pdf["doc_id"].to_numpy(np.int64))],
                "tfs": [varbyte_encode(pdf["tf"].to_numpy(np.uint64))],
                "dls": [varbyte_encode(pdf["dl"].to_numpy(np.uint64))],
            }
        )

    runs = salted.groupBy("shard", "term", "salt").applyInPandas(make_run, RUN_SCHEMA)

    k1, b, bs = cfg.k1, cfg.b, cfg.block_size
    cfg_small = IndexConfig(k1=k1, b=b, block_size=bs)

    def merge_runs(pdf: pd.DataFrame) -> pd.DataFrame:
        from bliss_rs_spark.functions.codec import decode_doc_ids, varbyte_decode

        doc_ids = np.concatenate([decode_doc_ids(x) for x in pdf["docs"]])
        tfs = np.concatenate([varbyte_decode(x) for x in pdf["tfs"]])
        dls = np.concatenate([varbyte_decode(x) for x in pdf["dls"]])
        blocks = _pack_rows(doc_ids, tfs, dls, cfg_small, avgdl)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "term": [pdf["term"].iloc[0]],
                "df_shard": [int(len(doc_ids))],
                "blocks": [blocks],
            }
        )

    return runs.groupBy("shard", "term").applyInPandas(merge_runs, PACKED_SCHEMA)


def build_packed_index_full(
    postings: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: IndexConfig | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """(packed, doc_map): the production entry point.  With
    cfg.ordinal_docids the packed blocks are ordinal-compressed and doc_map
    carries the per-shard translation; otherwise doc_map is None and blocks
    hold raw doc_ids."""
    cfg = cfg or IndexConfig()
    packed = build_packed_index(postings, term_stats, n_docs, avgdl, cfg)
    if not cfg.ordinal_docids:
        return packed, None
    sharded = postings.withColumn("shard", doc_shard(cfg.n_doc_shards))
    # persisted here because every caller consumes doc_map at least twice
    # (once inside the ordinalize cogroup, once as the returned frame) and
    # each pull is otherwise a full postings aggregation (guide §5).  The
    # frame is n_shards rows (bytes ~ compressed shard id blobs); callers
    # unpersist when done — a leaked handle is bounded by corpus id bytes /
    # ~9x varbyte compression, not corpus content.
    doc_map = build_doc_map(sharded).persist()
    return ordinalize_packed(packed, doc_map), doc_map
