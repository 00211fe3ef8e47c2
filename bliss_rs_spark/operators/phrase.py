"""Positional postings + exact phrase queries.

The flat/packed indexes store (term, tf) — enough for BM25.  Phrase queries
("exact token sequence") need positions; this module builds the positional
postings table and answers phrase queries by chained position intersection:

    occurrences(t1..tn, d) = |P1 ∩ (P2 - 1) ∩ ... ∩ (Pn - (n-1))|

where Pi is term ti's position set in d.  Everything is built-in JVM:
positions come from ``posexplode`` of the SQL tokenizer mirror (identical to
the pandas-UDF spec — tested), the intersection chain is array arithmetic.

Reference parity: positions are the ordinal the reference keeps implicitly
via ``feature_index`` (UNIQUE(song_id, feature_index),
/root/reference/src/library.rs:521-528) — order-preserving explode with
``posexplode`` is the same move (SURVEY.md §2.8 array row).
"""

from __future__ import annotations

import functools
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.placement import doc_shard, hash_bucket
from bliss_rs_spark.functions.tokenizer import tokenize_sql_spark, tokenize_text
from bliss_rs_spark.operators.unit_server import _UnitServer

_EMPTY_I64 = np.empty(0, np.int64)

# columns pack_positional emits beside the blob: per-blob mass + doc-range
# stats the serving kernel reads WITHOUT decoding — they drive rarest-first
# term ordering and doc-range decode gating (round 5)
_PACK_STAT_COLS = ("n_pos", "max_pos", "min_doc", "max_doc")
_PACK_SCHEMA = (
    "shard int, term string, n_pos long, max_pos int, "
    "min_doc long, max_doc long, pblob binary"
)

# the query kernels' outputs; StructTypes, not DDL strings, which would
# cost a JVM parse round trip on every query
_DOC_ID = T.StructField("doc_id", T.LongType())
_PHRASE_TF = T.StructField("phrase_tf", T.IntegerType())
_TOPK_SCHEMA = T.StructType([_DOC_ID, _PHRASE_TF])
_BATCH_SCHEMA = T.StructType(
    [T.StructField("phrase_id", T.IntegerType()), _DOC_ID, _PHRASE_TF]
)
_WINDOW_COLS = ("doc_id", "min_window")
_SPAN_COLS = _WINDOW_COLS + ("win_start", "win_end")
_WINDOW_SCHEMAS = {
    cols: T.StructType([T.StructField(c, T.LongType()) for c in cols])
    for cols in (_WINDOW_COLS, _SPAN_COLS)
}


def encode_positional_blob(
    doc_ids: np.ndarray, lens: np.ndarray, flat_pos: np.ndarray
) -> bytes:
    """One (shard, term)'s positional postings as a single binary blob:

        header <III>: byte lengths of the three varbyte streams
        stream A  delta+varbyte sorted doc_ids
        stream B  varbyte per-doc position counts
        stream C  varbyte per-doc-delta positions (first absolute, then gaps)

    Positions delta-encode extremely well (gaps are small ints -> 1 byte),
    so the packed form is ~3-5x smaller than row-per-(term, doc) parquet
    AND crosses the Arrow boundary as one value per (shard, term) instead
    of one row per (term, doc) — the transfer term that dominated hot-term
    phrase latency.  Same codec family as the packed BM25 index
    (functions/codec.py)."""
    from bliss_rs_spark.functions.codec import encode_doc_ids, varbyte_encode

    d = flat_pos.astype(np.int64).copy()
    if len(d):
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        d[1:] -= flat_pos[:-1]
        d[starts] = flat_pos[starts]  # each doc's first position absolute
    a = encode_doc_ids(doc_ids)
    b = varbyte_encode(lens.astype(np.uint64))
    c = varbyte_encode(d.astype(np.uint64))
    return struct.pack("<III", len(a), len(b), len(c)) + a + b + c


def decode_positional_blob(
    blob: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids, lens, flat_abs_positions) — the flat arrays the phrase
    kernel consumes directly (no per-doc lists are ever materialized)."""
    from bliss_rs_spark.functions.codec import decode_doc_ids, varbyte_decode

    la, lb, lc = struct.unpack_from("<III", blob)
    o = 12
    doc_ids = decode_doc_ids(blob[o:o + la])
    lens = varbyte_decode(blob[o + la:o + la + lb]).astype(np.int64)
    d = varbyte_decode(blob[o + la + lb:o + la + lb + lc]).astype(np.int64)
    if len(d):
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        cs = np.cumsum(d)
        base = cs[starts] - d[starts]
        flat = cs - np.repeat(base, lens)
    else:
        flat = d
    return doc_ids, lens, flat


def pack_positional(
    positional: DataFrame, cfg: IndexConfig | None = None
) -> DataFrame:
    """Positional rows (term, doc_id, positions) -> one blob per
    (shard, term), doc-sharded like the packed BM25 index (placement.doc_shard),
    with per-blob stats (n_pos, max_pos, min_doc, max_doc) in plain columns
    so the serving kernel can order terms rarest-first and skip decoding
    blobs whose doc range cannot intersect the surviving candidates.

    Same single-pass shape as build_packed_index (operators/pack.py:272):
    ONE shuffle (repartition by shard) + sortWithinPartitions(shard, term,
    doc_id) + a mapInPandas pass that slices each sorted Arrow batch into
    term groups and carries the tail group across batch boundaries — Python
    overhead per Arrow batch, never per (shard, term) group."""
    cfg = cfg or IndexConfig()
    sharded = positional.withColumn("shard", doc_shard(cfg.n_doc_shards)).select(
        "shard", "term", "doc_id", "positions"
    )
    arranged = sharded.repartition(cfg.n_doc_shards, "shard").sortWithinPartitions(
        "shard", "term", "doc_id"
    )

    def pack_stream(batches):
        run: dict | None = None  # carried (shard, term) tail group

        def new_out():
            return {
                "shard": [], "term": [], "n_pos": [], "max_pos": [],
                "min_doc": [], "max_doc": [], "pblob": [],
            }

        def emit(shard, term, docs, plists, out):
            docs = np.asarray(docs, dtype=np.int64)
            lens = np.fromiter(
                (len(p) for p in plists), dtype=np.int64, count=len(plists)
            )
            flat = (
                np.concatenate(plists).astype(np.int64)
                if len(plists)
                else np.empty(0, np.int64)
            )
            out["shard"].append(shard)
            out["term"].append(term)
            out["n_pos"].append(int(flat.size))
            out["max_pos"].append(int(flat.max()) if flat.size else 0)
            # docs arrive sorted (sortWithinPartitions by doc_id) -> ends
            out["min_doc"].append(int(docs[0]) if docs.size else 0)
            out["max_doc"].append(int(docs[-1]) if docs.size else 0)
            out["pblob"].append(encode_positional_blob(docs, lens, flat))

        for pdf in batches:
            if not len(pdf):
                continue
            out = new_out()
            shards = pdf["shard"].to_numpy()
            terms = pdf["term"].to_numpy()
            docs = pdf["doc_id"].to_numpy(np.int64)
            plists = pdf["positions"].tolist()
            change = np.nonzero(
                (shards[1:] != shards[:-1]) | (terms[1:] != terms[:-1])
            )[0] + 1
            bounds = np.concatenate(([0], change, [len(shards)]))
            for i in range(len(bounds) - 1):
                s, e = int(bounds[i]), int(bounds[i + 1])
                grp = (int(shards[s]), terms[s], docs[s:e], plists[s:e])
                if run is not None and run[0] == grp[0] and run[1] == grp[1]:
                    run = (
                        run[0], run[1],
                        np.concatenate([run[2], grp[2]]),
                        run[3] + grp[3],
                    )
                    continue
                if run is not None:
                    emit(run[0], run[1], run[2], run[3], out)
                run = (grp[0], grp[1], grp[2], list(grp[3]))
            if out["term"]:
                yield pd.DataFrame(out)
        if run is not None:
            out = new_out()
            emit(run[0], run[1], run[2], run[3], out)
            yield pd.DataFrame(out)

    return arranged.mapInPandas(pack_stream, _PACK_SCHEMA)


def build_positional_postings(docs: DataFrame, cfg: IndexConfig | None = None) -> DataFrame:
    """(term, term_bucket, doc_id, positions array<int>, tf).

    posexplode(token_array) -> groupBy(term, doc) collect sorted positions.
    The token array comes from the JVM mirror of TOKENIZER SPEC v1, so
    positional and bag-of-words indexes agree on every term (tested).
    """
    cfg = cfg or IndexConfig()
    toks = docs.select(
        "doc_id", F.posexplode(F.expr(tokenize_sql_spark("content"))).alias("pos", "term")
    )
    return (
        toks.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .select(
            "term",
            hash_bucket("term", cfg.n_term_buckets).alias("term_bucket"),
            "doc_id",
            "positions",
            F.size("positions").alias("tf"),
        )
    )


def phrase_match(
    spark: SparkSession,
    positional: DataFrame,
    phrase: str,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """(doc_id, phrase_tf) for every doc containing the exact token sequence.

    ONE pass: the positional frame is pruned to the phrase's terms (pushed
    isin) and aggregated per doc into a term -> positions map; the
    position-chain intersection is then a single array expression over the
    map's entries.  The previous shape was an n-way self-join on doc_id —
    each join side re-evaluated the positional lineage (for an un-cached
    positional frame that meant one full posexplode + collect_list pass of
    the corpus PER PHRASE TERM; guide §2.4/§1.2) and paid a join exchange
    per term.  (doc_id, term) is unique in every positional source (grouped
    at build; store segments are tombstone-disjoint), so map_from_entries
    is lossless and the survivor arithmetic is unchanged.  Duplicate phrase
    terms read the SAME map entry at two offsets, as before.
    """
    cfg = cfg or IndexConfig()
    terms = tokenize_text(phrase)
    if not terms:
        return spark.createDataFrame([], "doc_id long, phrase_tf int")
    uniq = sorted(set(terms))
    pruned = positional.filter(F.col("term").isin(uniq))
    by_doc = (
        pruned.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("m"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == F.lit(len(uniq)))
    )

    # chain: survivors after step i = positions p0 such that p0+j ∈ pj ∀ j<=i.
    # NB: the shift lambda must take exactly ONE argument — F.transform
    # interprets a second lambda parameter as the array index, which would
    # silently shadow a default-captured loop variable.
    def shift_by(offset: int):
        return lambda x: x - offset

    surv = F.col("m").getItem(terms[0])
    for i, t in enumerate(terms[1:], start=1):
        surv = F.array_intersect(
            surv, F.transform(F.col("m").getItem(t), shift_by(i))
        )
    return by_doc.select(
        "doc_id", F.size(surv).alias("phrase_tf")
    ).filter(F.col("phrase_tf") > 0)


def phrase_topk(
    spark: SparkSession,
    positional: DataFrame,
    phrase: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Docs ranked by exact-phrase occurrence count (tie: doc_id ASC)."""
    return (
        phrase_match(spark, positional, phrase, cfg)
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(k)
    )


def _blob_arrays(
    blob, dead_bytes
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one positional blob -> flat (docs, positions) arrays, with the
    blob's (unit, shard) dead set (tombstoned doc_ids) masked out at the doc
    level — how per-SEGMENT packs exclude superseded/deleted docs without
    rewriting immutable blobs (the positional sibling of _Cursor's dead
    filter, operators/wand.py:110)."""
    di, lens, flat = decode_positional_blob(bytes(blob))
    if dead_bytes is not None and len(di):
        from bliss_rs_spark.operators.wand import _cached_dead_ordinals

        dead = _cached_dead_ordinals(bytes(dead_bytes), None)
        if len(dead):
            # range gate first: most blobs contain no dead doc
            lo = int(np.searchsorted(dead, di[0]))
            hi = int(np.searchsorted(dead, di[-1], side="right"))
            if hi > lo:
                keep = ~np.isin(di, dead[lo:hi])
                if not keep.all():
                    flat = flat[np.repeat(keep, lens)]
                    di, lens = di[keep], lens[keep]
    return np.repeat(di, lens), flat


class _TermSource:
    """One query term's posting source within a partition: blob-backed
    (packed mode — decoded lazily, gated by per-blob doc range) or
    array-backed (row mode / stat-less legacy packs).

    ``mass`` (total positions) and ``max_pos`` come from the pack's stat
    columns, so rarest-first ordering and the key stride are known BEFORE
    any blob is decoded."""

    __slots__ = ("mass", "max_pos", "_blobs", "_docs", "_pos", "_decoded")

    def __init__(self, mass: int, max_pos: int, blobs=None):
        self.mass = int(mass)
        self.max_pos = int(max_pos)
        # blobs: list of (pblob, min_doc, max_doc, dead_bytes | None)
        self._blobs = blobs
        self._docs = None
        self._pos = None
        self._decoded: dict | None = {} if blobs is not None else None

    @classmethod
    def from_arrays(cls, docs: np.ndarray, pos: np.ndarray) -> "_TermSource":
        src = cls(len(pos), int(pos.max()) if len(pos) else 0)
        src._docs = docs
        src._pos = pos
        return src

    def load(self, sdocs: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
        """-> flat (docs, positions).  ``sdocs`` (sorted surviving doc ids)
        gates blob decodes: a blob whose [min_doc, max_doc] range contains
        no survivor is skipped entirely — the hot-term cost then scales with
        the RARE terms' match set, not the hot term's df.  Decodes are
        memoized so batch queries sharing a term never decode twice."""
        if self._docs is not None:
            return self._docs, self._pos
        ds, ps = [], []
        full = sdocs is None
        for idx, (blob, lo, hi, dead_b) in enumerate(self._blobs):
            if not full and len(sdocs):
                i = int(np.searchsorted(sdocs, lo))
                if i >= len(sdocs) or sdocs[i] > hi:
                    continue  # no survivor inside this blob's doc range
            hit = self._decoded.get(idx)
            if hit is None:
                hit = _blob_arrays(blob, dead_b)
                self._decoded[idx] = hit
            if len(hit[0]):
                ds.append(hit[0])
                ps.append(hit[1])
        if not ds:
            return _EMPTY_I64, _EMPTY_I64
        d = np.concatenate(ds) if len(ds) > 1 else ds[0]
        p = np.concatenate(ps) if len(ps) > 1 else ps[0]
        if full:
            self._docs, self._pos = d, p  # memoize the full load
        return d, p


def _partition_sources(
    pdf: pd.DataFrame, terms, is_packed: bool, has_stats: bool,
    dead_lookup: dict | None = None,
) -> dict[str, _TermSource]:
    """term -> _TermSource over one partition's term-filtered rows.

    ``dead_lookup``: {(unit, shard): encoded dead doc_ids} from the
    server's broadcast variable — each blob row resolves its own (unit,
    shard) dead set for decode-time masking."""
    out: dict[str, _TermSource] = {}
    if dead_lookup is None:
        dead_lookup = {}
    has_us = "unit" in pdf.columns and "shard" in pdf.columns
    for t in terms:
        sub = pdf[pdf["term"] == t]
        if len(sub) == 0:
            continue
        if is_packed:
            if dead_lookup and has_us:
                dead_it = [
                    dead_lookup.get((int(u), int(s)))
                    for u, s in zip(sub["unit"], sub["shard"])
                ]
            else:
                dead_it = [None] * len(sub)
            if has_stats:
                out[t] = _TermSource(
                    int(sub["n_pos"].sum()),
                    int(sub["max_pos"].max()),
                    blobs=list(zip(
                        sub["pblob"],
                        sub["min_doc"].to_numpy(np.int64),
                        sub["max_doc"].to_numpy(np.int64),
                        dead_it,
                    )),
                )
            else:  # legacy pack without stat columns: eager decode
                ds, ps = [], []
                for blob, dead_b in zip(sub["pblob"], dead_it):
                    d, p = _blob_arrays(blob, dead_b)
                    ds.append(d)
                    ps.append(p)
                out[t] = _TermSource.from_arrays(
                    np.concatenate(ds), np.concatenate(ps)
                )
        else:
            docs_t = sub["doc_id"].to_numpy(np.int64)
            plists = sub["positions"].tolist()
            lens = np.fromiter(
                (len(p) for p in plists), dtype=np.int64, count=len(plists)
            )
            pos_flat = (
                np.concatenate(plists).astype(np.int64)
                if len(plists)
                else _EMPTY_I64
            )
            out[t] = _TermSource.from_arrays(np.repeat(docs_t, lens), pos_flat)
    return out


def _phrase_topk_sources(
    sources: dict[str, _TermSource], offsets: dict, n_terms: int, k: int,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray] | None:
    """The vectorized phrase chain, RAREST-FIRST (round 5): each (doc,
    position) pair becomes one int64 key ``doc_idx * m + (pos - slot + n)``
    and the chain ∩_i (P_i - i) is np.intersect1d over flat arrays — but
    terms are intersected in ascending posting-mass order, and every later
    term is (a) decode-gated to the surviving doc range (packed mode) and
    (b) pre-filtered to surviving docs before key formation.  A hot-term
    phrase ("the <rare-word>") therefore costs O(rare term's matches), not
    O(hot term's df) — the positional sibling of block-max skipping
    (operators/wand.py:84).  Returns local top-k (ids, tfs) or None."""
    order = sorted(offsets, key=lambda t: (sources[t].mass, t))
    m = max(sources[t].max_pos for t in offsets) + n_terms + 2
    d0, p0 = sources[order[0]].load(None)
    if not len(d0):
        return None
    # candidate universe = the RAREST term's docs; docs absent from it can
    # never survive the chain, so later terms drop them pre-intersection
    all_docs = np.unique(d0)
    if allow is not None:
        # metadata filter (sorted raw doc ids): shrink the universe up
        # front so every later decode gate prunes on the filtered set too
        all_docs = np.intersect1d(all_docs, allow, assume_unique=True)
    if deny is not None and len(all_docs):
        # complement route (non-selective predicates ship the SMALL deny
        # side): drop denied docs from the universe — same downstream
        # pruning as allow, just set-difference instead of intersect
        keep = np.ones(len(all_docs), dtype=bool)
        j = np.searchsorted(deny, all_docs)
        inb = j < len(deny)
        keep[inb] = deny[j[inb]] != all_docs[inb]
        all_docs = all_docs[keep]
    if allow is not None or deny is not None:
        if not len(all_docs):
            return None
        j = np.searchsorted(all_docs, d0)
        ok = j < len(all_docs)
        ok[ok] = all_docs[j[ok]] == d0[ok]
        d0, p0 = d0[ok], p0[ok]
        if not len(d0):
            return None
    surv: np.ndarray | None = None
    sdocs = all_docs
    for ti, t in enumerate(order):
        if ti == 0:
            d, p = d0, p0
        else:
            d, p = sources[t].load(sdocs)
            if len(d):
                j = np.searchsorted(sdocs, d)
                ok = j < len(sdocs)
                ok[ok] = sdocs[j[ok]] == d[ok]
                d, p = d[ok], p[ok]
            if not len(d):
                return None
        di = np.searchsorted(all_docs, d)
        for off in offsets[t]:
            keys = di * m + (p - off + n_terms)
            surv = (
                np.sort(keys)
                if surv is None
                else np.intersect1d(surv, keys, assume_unique=True)
            )
            if not len(surv):
                return None
        if ti + 1 < len(order):
            sdocs = all_docs[np.unique(surv // m)]
    counts = np.bincount(surv // m, minlength=len(all_docs))
    nz = np.nonzero(counts)[0]
    ids, tfs = all_docs[nz], counts[nz]
    top = np.lexsort((ids, -tfs))[:k]
    return ids[top], tfs[top]


def _min_window_from_sources(
    sources: dict[str, _TermSource], terms: list[str], k: int,
    with_spans: bool = False,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
) -> tuple[np.ndarray, ...] | None:
    """Proximity kernel (round-5 stretch): for every doc containing ALL the
    query terms, the MINIMAL token window [a, b] covering at least one
    occurrence of each term (bag-of-words, order-free) — the classic
    smallest-covering-range sweep, fully vectorized:

    - candidate docs = rarest-first intersection of the terms' doc sets
      (with the same blob decode gating as the phrase chain);
    - merge all (doc, pos, term) events sorted by doc-scoped key; for each
      event as the window's right end, the best window ends there and
      starts at the OLDEST of the per-term most-recent occurrences
      (np.maximum.accumulate per term); per-doc minimum via
      np.minimum.reduceat over doc boundaries.

    Returns local top-k (doc_ids, min_window) ranked (window ASC, doc_id
    ASC), or None when no doc holds all terms.  Integer windows — exact
    cross-engine comparison needs no float rounding.

    ``with_spans`` additionally returns the winning window's token span
    (start, end) — snippet/highlight extraction.  Tie-break: among equal
    minimal windows the SMALLEST start wins, which is exactly the FIRST
    event (ascending (doc, pos) key) achieving the doc's minimum: a
    minimal window is tight at its right end, so start = end - w + 1 is
    monotone in end."""
    order = sorted(terms, key=lambda t: (sources[t].mass, t))
    d0, p0 = sources[order[0]].load(None)
    if not len(d0):
        return None
    cand = np.unique(d0)
    if allow is not None:
        # metadata filter: every term's rows are mapped onto cand below, so
        # shrinking cand here filters the whole window computation
        cand = np.intersect1d(cand, allow, assume_unique=True)
    if deny is not None and len(cand):
        # complement route — see _phrase_topk_sources
        keep = np.ones(len(cand), dtype=bool)
        j = np.searchsorted(deny, cand)
        inb = j < len(deny)
        keep[inb] = deny[j[inb]] != cand[inb]
        cand = cand[keep]
    if (allow is not None or deny is not None) and not len(cand):
        return None
    per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {order[0]: (d0, p0)}
    for t in order[1:]:
        d, p = sources[t].load(cand)
        if len(d):
            j = np.searchsorted(cand, d)
            ok = j < len(cand)
            ok[ok] = cand[j[ok]] == d[ok]
            d, p = d[ok], p[ok]
        if not len(d):
            return None
        per_term[t] = (d, p)
        cand = np.unique(d)  # ⊆ previous cand: docs holding all terms so far
    nt = len(order)
    dis, ps, ts = [], [], []
    maxpos = 0
    for ti, t in enumerate(order):
        d, p = per_term[t]
        j = np.searchsorted(cand, d)
        ok = j < len(cand)
        ok[ok] = cand[j[ok]] == d[ok]
        j, p = j[ok], p[ok]
        dis.append(j)
        ps.append(p)
        ts.append(np.full(len(p), ti, dtype=np.int64))
        if len(p):
            maxpos = max(maxpos, int(p.max()))
    di = np.concatenate(dis)
    pos = np.concatenate(ps)
    tid = np.concatenate(ts)
    m = maxpos + 2
    key = di * m + pos
    srt = np.argsort(key)  # (doc, pos) unique -> keys unique, sort is total
    key, tid = key[srt], tid[srt]
    lastmin = None
    for ti in range(nt):
        last_t = np.maximum.accumulate(np.where(tid == ti, key, -1))
        lastmin = last_t if lastmin is None else np.minimum(lastmin, last_t)
    big = np.int64(1) << 60
    valid = (lastmin >= 0) & (lastmin // m == key // m)  # all terms, same doc
    wlen = np.where(valid, key - lastmin + 1, big)
    doc_of = key // m
    starts = np.nonzero(np.concatenate(([True], doc_of[1:] != doc_of[:-1])))[0]
    minw = np.minimum.reduceat(wlen, starts)
    keep = minw < big
    if not keep.any():
        return None
    ids = cand[doc_of[starts][keep]]
    mw = minw[keep]
    top = np.lexsort((ids, mw))[:k]
    if not with_spans:
        return ids[top], mw[top].astype(np.int64)
    # span of the winning (first-min) event per doc: index trick — replace
    # non-min events with a sentinel index, reduceat takes the first min
    seg_sizes = np.diff(np.append(starts, len(wlen)))
    is_min = wlen == np.repeat(minw, seg_sizes)
    idx = np.where(is_min, np.arange(len(wlen)), len(wlen))
    first_idx = np.minimum.reduceat(idx, starts)[keep]
    win_end = (key[first_idx] % m).astype(np.int64)
    win_start = (lastmin[first_idx] % m).astype(np.int64)
    return ids[top], mw[top].astype(np.int64), win_start[top], win_end[top]


def min_window_match(
    spark: SparkSession,
    positional: DataFrame,
    query_text: str,
    cfg: IndexConfig | None = None,
    with_spans: bool = False,
) -> DataFrame:
    """Batch sibling of PhraseServer.query_window: (doc_id, min_window) for
    EVERY doc containing all the query's (unique) terms — the order-free
    proximity relation, as a DataFrame for composition (filter by window,
    join with BM25 scores, aggregate...).

    ``with_spans`` adds the winning window's token span (win_start,
    win_end; ties broken smallest-start) — snippet/highlight extraction
    over the positional index without re-reading any document.

    Plan shape: term-pruned scan -> one repartition by doc_id (docs
    complete per partition) -> the same vectorized smallest-covering-range
    kernel the server uses, emitting every match.  One shuffle, bounded by
    the query terms' posting mass."""
    terms = sorted(set(tokenize_text(query_text)))
    cols = _SPAN_COLS if with_spans else _WINDOW_COLS
    if not terms:
        return spark.createDataFrame([], _WINDOW_SCHEMAS[cols])
    pruned = (
        positional.filter(F.col("term").isin(terms))
        .select("term", "doc_id", "positions")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    empty = pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})
    big_k = 1 << 62

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            yield empty
            return
        pdf = pd.concat(chunks, ignore_index=True)
        src = _partition_sources(pdf, terms, False, False)
        if any(t not in src for t in terms):
            yield empty
            return
        top = _min_window_from_sources(src, terms, big_k, with_spans=with_spans)
        if top is None:
            yield empty
            return
        yield pd.DataFrame(dict(zip(cols, top)))

    return pruned.mapInPandas(kernel, _WINDOW_SCHEMAS[cols])


def attach_snippet_text(
    spans: DataFrame, docs: DataFrame, content_col: str = "content"
) -> DataFrame:
    """Materialize snippet STRINGS from min-window spans: join the spans
    relation (doc_id, min_window, win_start, win_end — from
    min_window_match(with_spans=True)) back to the documents and slice the
    analyzed token stream JVM-side (tokenize_sql_spark is the tested SQL
    mirror of the analyzer, so span positions line up exactly).  One
    match-set-sized equi-join + pure column expressions — no Python, no
    second content pass beyond the join."""
    toks = F.expr(tokenize_sql_spark(content_col))
    return (
        spans.join(docs.select("doc_id", content_col), "doc_id")
        .withColumn(
            "snippet",
            F.array_join(
                F.slice(toks, F.col("win_start") + F.lit(1), F.col("min_window")),
                " ",
            ),
        )
        .drop(content_col)
    )


@functools.lru_cache(maxsize=16)
def _cached_allow_ids(blobs: tuple[bytes, ...]) -> np.ndarray:
    """Worker-memoized assembly of an allow-id array (sorted unique) from
    per-shard encoded blobs.  CPython caches bytes hashes on the objects,
    so repeat lookups cost one dict probe."""
    from bliss_rs_spark.functions.codec import decode_doc_ids

    if not blobs:
        return _EMPTY_I64
    return np.sort(np.concatenate([decode_doc_ids(b) for b in blobs]))


def _allow_for_partition(
    blobs: dict[int, bytes], pdf: pd.DataFrame
) -> np.ndarray:
    """The partition-local allow array: packed partitions decode only the
    blobs of the doc shards actually present in the partition (the rows'
    own shard column); row mode (no shard column) assembles the full set.
    A shard with no allow blob contributes nothing — the complement
    convention of dead sets (nothing-allowed there)."""
    if "shard" in pdf.columns:
        shards = sorted(int(s) for s in pd.unique(pdf["shard"]))
        key = tuple(blobs[s] for s in shards if s in blobs)
    else:
        key = tuple(blobs[s] for s in sorted(blobs))
    return _cached_allow_ids(key)


class PhraseServer(_UnitServer):
    """Low-latency phrase serving: warm exact-phrase top-k in ONE
    shuffle-free job — the positional sibling of WandServer.  The unit
    lifecycle (cached per-unit frames, refresh, dead sets, filters, gc
    pins) is _UnitServer's, operators/unit_server.py.

    Packed mode caches one delta+varbyte positional blob per (unit, shard,
    term), repartitioned by doc shard; ``from_store`` packs each store
    segment once into ``derived/pos_units/<segment>`` and masks tombstoned
    docs with the broadcast dead sets inside the kernel.  Row mode
    (``packed=False``) caches the raw (term, doc_id, positions) rows
    repartitioned by doc_id — the reference kernel the tests compare
    against.  Either way every doc's term rows lie wholly inside one
    partition, and per query: filter(term isin phrase terms) over the
    cached partitions -> mapInPandas runs the position-intersection chain
    per complete doc and emits its partition's local top-k -> tiny
    (partitions x k) driver merge.  No shuffle, no join, no window, one
    stage.

    Rank-identical to phrase_topk (same |∩ (Pi - i)| count, same
    (phrase_tf DESC, doc_id ASC) tie-break; tested, including across
    churn).
    """

    _unit_source = ("positional", "pos_units")

    def __init__(
        self,
        spark: SparkSession,
        positional: DataFrame | None = None,
        cfg: IndexConfig | None = None,
        target_partitions: int | None = None,
        packed: bool = True,
        units: list[tuple[int, DataFrame]] | None = None,
        tombstones: DataFrame | None = None,
    ):
        self.cfg = cfg or IndexConfig()
        self._store_mode = units is not None
        self._has_stats = True
        if units is None:
            if positional is None:
                raise ValueError("PhraseServer needs positional rows or units")
            if "pblob" in positional.columns:
                packed = True
            elif packed:
                # pack at init (one job): per-query Arrow transfer becomes
                # one blob per (shard, term) instead of one row per
                # (term, doc) — the term that dominated hot-phrase latency
                positional = pack_positional(positional, self.cfg)
            units = [(0, positional)]
        else:
            packed = True
        self.packed = bool(packed)
        self._init_units(
            spark, units, target_partitions, self.cfg.n_doc_shards, tombstones
        )

    def _build_unit_frame(self, unit: tuple[int, DataFrame], n_parts: int) -> DataFrame:
        seq, p = unit
        if not self.packed:
            # row mode: repartition by doc_id -> docs complete per
            # partition; sortWithinPartitions clusters each term's rows so
            # the columnar cache's min/max stats prune the per-query term
            # filter to a handful of batches
            return (
                p.select("term", "doc_id", "positions")
                .repartition(n_parts, "doc_id")
                .sortWithinPartitions("term")
                .persist()
            )
        cols = [
            c
            for c in ("shard", "term", *_PACK_STAT_COLS, "pblob")
            if c in p.columns
        ]
        if not all(c in p.columns for c in _PACK_STAT_COLS):
            self._has_stats = False
        # shard = doc_shard(doc_id) -> docs complete per partition;
        # sortWithinPartitions never moves rows across partitions
        return (
            p.select(*cols)
            .withColumn("unit", F.lit(int(seq)))
            .repartition(n_parts, "shard")
            .sortWithinPartitions("term")
            .persist()
        )

    def _warm_unit(self, seq: int) -> int:
        return self._unit_frames[seq].count()

    @staticmethod
    def _pack_unit(rows: DataFrame, cfg: IndexConfig) -> DataFrame:
        return pack_positional(rows.select("term", "doc_id", "positions"), cfg)

    @classmethod
    def from_store(
        cls, spark: SparkSession, store, packed: bool = True
    ) -> "PhraseServer":
        """Serve the CURRENT snapshot.  Default: per-unit packs from the
        derived cache, tombstones as dead sets.  ``packed=False`` serves
        the raw rows of store.load('positional'), already the
        tombstone-filtered union across segments; that frame still
        recomputes from segment paths on executor loss, so it pins its
        snapshot too, but it cannot refresh()."""
        cfg_s = store.config()
        if not cfg_s.store_positions:
            raise ValueError(
                "index was built without positions; rebuild with "
                "IndexConfig(store_positions=True) to serve phrase queries"
            )
        fps: dict[int, tuple] = {}
        if packed:
            units, fps = cls._store_units(spark, store)
            srv = cls(
                spark, None, cfg_s, units=units,
                tombstones=cls._store_tombstones(spark, store),
            )
        else:
            srv = cls(spark, store.load(spark, "positional"), cfg_s, packed=False)
        srv._attach_store(store, fps)
        return srv

    def set_filter(
        self, name: str, allow_df: DataFrame, mode: str = "allow"
    ) -> None:
        """Register a named metadata filter for query/query_window
        (filter_name=...): ``allow_df`` is a (doc_id) frame — the permitted
        docs (mode='allow') or the EXCLUDED docs (mode='deny', the
        complement route: a non-selective predicate like lang='en' at 60%
        of 10^9 docs ships its SMALL complement instead).  Each worker
        decodes only its partitions' shards, memoized."""
        self._put_filter(name, allow_df, mode)

    # -- query ----------------------------------------------------------------

    def _plan_for(
        self, phrase: str, k: int, filter_name: str | None = None
    ) -> DataFrame | None:
        """The per-query physical plan: filter over the persisted pack(s) +
        one mapInPandas — NO exchange of the cached side (pinned by
        tests/test_plans.py).  None when the phrase tokenizes to nothing.
        Kernel design: _phrase_topk_sources (rarest-first, decode-gated,
        fully vectorized — no per-doc Python loop)."""
        terms = tokenize_text(phrase)
        if not terms:
            return None
        # term -> every slot at which it occurs in the phrase (duplicate
        # phrase terms intersect the SAME posting list at several offsets)
        offsets: dict[str, list[int]] = {}
        for i, t in enumerate(terms):
            offsets.setdefault(t, []).append(i)
        n_terms = len(terms)
        kk = k
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "phrase_tf": pd.Series([], dtype="int32")})
        is_packed = self.packed
        has_stats = self._has_stats
        uniq_terms = sorted(offsets)
        dead_bc = self._dead_bc
        allow_bc = self._filter(filter_name)

        def kernel(batches):
            # accumulate the partition's batches: a term's rows may straddle
            # Arrow batch boundaries
            chunks = list(batches)
            if not chunks:
                yield empty
                return
            pdf = pd.concat(chunks, ignore_index=True)
            src = _partition_sources(
                pdf, uniq_terms, is_packed, has_stats,
                dead_bc.value if dead_bc is not None else None,
            )
            if any(t not in src for t in offsets):
                yield empty  # a term absent from this partition entirely
                return
            flt = (
                (_allow_for_partition(allow_bc[0].value, pdf), allow_bc[1])
                if allow_bc is not None
                else None
            )
            top = _phrase_topk_sources(
                src, offsets, n_terms, kk,
                allow=flt[0] if flt and flt[1] == "allow" else None,
                deny=flt[0] if flt and flt[1] == "deny" else None,
            )
            if top is None:
                yield empty
                return
            ids, tfs = top
            yield pd.DataFrame(
                {"doc_id": ids, "phrase_tf": tfs.astype("int32")}
            )

        return self._scan(uniq_terms).mapInPandas(kernel, _TOPK_SCHEMA)

    def query(
        self, phrase: str, k: int = 10, filter_name: str | None = None
    ) -> list[tuple[int, int]]:
        """-> [(doc_id, phrase_tf)] exact top-k, rank-identical to
        phrase_topk (see _plan_for for the kernel design).  ``filter_name``
        restricts matches to a registered metadata filter's doc set."""
        df = self._plan_for(phrase, k, filter_name)
        if df is None:
            return []
        merged = sorted(
            ((int(r["phrase_tf"]), int(r["doc_id"])) for r in df.collect()),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        return [(d, tf) for tf, d in merged]

    def query_window(
        self, query_text: str, k: int = 10, with_spans: bool = False,
        filter_name: str | None = None,
    ) -> list[tuple]:
        """Proximity ranking (round-5 stretch): -> [(doc_id, min_window)]
        for the top-k docs containing ALL the query's (unique) terms,
        ranked by the minimal token window covering one occurrence of each
        (ASC; tie: doc_id ASC) — "how tightly do these terms co-occur",
        the order-free relaxation of the exact phrase chain.  Same
        shuffle-free one-job plan and dead-set masking as query(); exact
        (integer windows, exact driver merge; DuckDB-gated via the
        phrase_window driver gate).

        ``with_spans`` -> [(doc_id, min_window, win_start, win_end)]: the
        winning window's token span (smallest-start tie-break) — the
        snippet/highlight anchor, straight from the positional index."""
        terms = sorted(set(tokenize_text(query_text)))
        if not terms:
            return []
        kk = k
        is_packed = self.packed
        has_stats = self._has_stats
        dead_bc = self._dead_bc
        allow_bc = self._filter(filter_name)
        cols = _SPAN_COLS if with_spans else _WINDOW_COLS
        empty = pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})

        def kernel(batches):
            chunks = list(batches)
            if not chunks:
                yield empty
                return
            pdf = pd.concat(chunks, ignore_index=True)
            src = _partition_sources(
                pdf, terms, is_packed, has_stats,
                dead_bc.value if dead_bc is not None else None,
            )
            if any(t not in src for t in terms):
                yield empty  # a term absent from this partition entirely
                return
            flt = (
                (_allow_for_partition(allow_bc[0].value, pdf), allow_bc[1])
                if allow_bc is not None
                else None
            )
            top = _min_window_from_sources(
                src, terms, kk, with_spans=with_spans,
                allow=flt[0] if flt and flt[1] == "allow" else None,
                deny=flt[0] if flt and flt[1] == "deny" else None,
            )
            if top is None:
                yield empty
                return
            yield pd.DataFrame(dict(zip(cols, top)))

        df = self._scan(terms).mapInPandas(kernel, _WINDOW_SCHEMAS[cols])
        if not with_spans:
            merged = sorted(
                ((int(r["min_window"]), int(r["doc_id"])) for r in df.collect())
            )[:k]
            return [(d, w) for w, d in merged]
        merged = sorted(
            (
                (int(r["min_window"]), int(r["doc_id"]),
                 int(r["win_start"]), int(r["win_end"]))
                for r in df.collect()
            )
        )[:k]
        return [(d, w, s, e) for w, d, s, e in merged]

    def query_batch(
        self, phrases: list[tuple[int, str, int]]
    ) -> list[tuple[int, int, int, int]]:
        """Score a whole phrase SET in ONE shuffle-free job (the phrase
        sibling of wand_topk_batch): the scan is filtered once by the union
        of every phrase's terms, each partition builds each term's source
        ONCE (decodes memoized across phrases) and runs every phrase's
        chain, and the driver finishes the exact per-phrase merge.

        phrases: [(phrase_id, text, k)] ->
        [(phrase_id, rank, doc_id, phrase_tf)] sorted by (phrase_id, rank).
        Per-phrase results are identical to query() (tested)."""
        specs: dict[int, tuple[dict, int, int]] = {}
        for pid, text, k in phrases:
            terms = tokenize_text(text)
            if not terms:
                continue
            offs: dict[str, list[int]] = {}
            for i, t in enumerate(terms):
                offs.setdefault(t, []).append(i)
            specs[int(pid)] = (offs, len(terms), int(k))
        if not specs:
            return []
        union_terms = sorted({t for offs, _, _ in specs.values() for t in offs})
        is_packed = self.packed
        has_stats = self._has_stats
        dead_bc = self._dead_bc
        empty = pd.DataFrame(
            {
                "phrase_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                "phrase_tf": pd.Series([], dtype="int32"),
            }
        )

        def kernel(batches):
            chunks = list(batches)
            if not chunks:
                yield empty
                return
            pdf = pd.concat(chunks, ignore_index=True)
            src = _partition_sources(
                pdf, union_terms, is_packed, has_stats,
                dead_bc.value if dead_bc is not None else None,
            )
            out = {"phrase_id": [], "doc_id": [], "phrase_tf": []}
            for pid, (offs, n_terms, k) in specs.items():
                if any(t not in src for t in offs):
                    continue  # absent term: only the phrases using it die
                top = _phrase_topk_sources(
                    {t: src[t] for t in offs}, offs, n_terms, k
                )
                if top is None:
                    continue
                ids, tfs = top
                out["phrase_id"].extend([pid] * len(ids))
                out["doc_id"].extend(int(d) for d in ids)
                out["phrase_tf"].extend(int(x) for x in tfs)
            yield pd.DataFrame(out) if out["phrase_id"] else empty

        partials = (
            self._scan(union_terms)
            .mapInPandas(kernel, _BATCH_SCHEMA)
            .collect()
        )
        by_pid: dict[int, list[tuple[int, int]]] = {}
        for r in partials:
            by_pid.setdefault(int(r["phrase_id"]), []).append(
                (int(r["phrase_tf"]), int(r["doc_id"]))
            )
        out: list[tuple[int, int, int, int]] = []
        for pid in sorted(by_pid):
            k = specs[pid][2]
            merged = sorted(by_pid[pid], key=lambda x: (-x[0], x[1]))[:k]
            out.extend(
                (pid, rank + 1, d, tf) for rank, (tf, d) in enumerate(merged)
            )
        return out
