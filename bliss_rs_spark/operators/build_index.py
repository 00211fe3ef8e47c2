"""Posting-list index construction — the "analyze the corpus" stage.

Reference parity: bliss-rs's library build explodes each song's 23-float
analysis into an EAV-long ``feature`` table, one row per
(song_id, feature_index, value) with UNIQUE(song_id, feature_index)
(/root/reference/src/library.rs:521-529, insert loop :1619-1629).  Our
postings table is the same explode-to-long move over term statistics:
one row per (term, doc_id) with tf — produced by ``F.explode`` of the
tokenizer output, never a driver loop.

Skew: term df on source code is power-law (hot keywords like "return").
The flat postings build needs no salting — ``explode`` is narrow and the
df aggregation is a partial+final count (map-side combine absorbs the hot
keys).  Salting matters where a whole posting *list* must be materialized
per term (packed/compressed index, see operators/pack.py), and for the
hot-term histogram we reuse the reference's histogram+argmax idiom
(/root/reference/src/chroma.rs:348-358).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import with_invariants
from bliss_rs_spark.functions.placement import hash_bucket
from bliss_rs_spark.functions.tokenizer import with_tokens


def tokenize_documents(docs: DataFrame, cfg: IndexConfig | None = None) -> DataFrame:
    """documents -> + doc_id, content_sha256, tokens, dl.

    The single pandas-UDF pass of the pipeline (everything downstream is
    built-in JVM ops).
    """
    cfg = cfg or IndexConfig()
    if "doc_id" not in docs.columns or "content_sha256" not in docs.columns:
        docs = with_invariants(docs)
    return with_tokens(docs, "content", "lang", cfg.lang_tagging)


def split_errors(tokenized: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok rows, error ledger rows).  Failed tokenizations never abort the
    build; they land in the _errors table (ref: store_failed_song,
    /root/reference/src/library.rs:1639-1668) and are excluded from every
    downstream stat — the `analyzed = true` predicate analogue
    (/root/reference/src/library.rs:1019-1022)."""
    ok = tokenized.filter(F.col("error").isNull())
    errors = tokenized.filter(F.col("error").isNotNull()).select(
        "repo", "path", "commit", "doc_id", "error", F.current_timestamp().alias("ts")
    )
    return ok, errors


def build_doc_stats(tokenized: DataFrame) -> DataFrame:
    """Per-document stats table: the ``song`` row analogue
    (/root/reference/src/library.rs:500-519)."""
    return tokenized.select(
        "doc_id", "repo", "path", "commit", "lang", "dl", "content_sha256"
    )


def build_postings(tokenized: DataFrame, cfg: IndexConfig | None = None) -> DataFrame:
    """Flat postings: one row per (term, doc_id) with tf and dl.

    dl is denormalized onto each posting (standard IR norm-with-posting
    layout) so query-time scoring never joins the doc_stats table — at
    100 TB that join would dominate the query. ``term_bucket`` is the
    physical partition key: queries prune to the buckets of their terms.
    """
    cfg = cfg or IndexConfig()
    tok = tokenized.select(
        "doc_id", "dl", F.explode(F.arrays_zip("terms", "tfs")).alias("t")
    )
    return tok.select(
        F.col("t.terms").alias("term"),
        hash_bucket(F.col("t.terms"), cfg.n_term_buckets).alias("term_bucket"),
        "doc_id",
        F.col("t.tfs").alias("tf"),
        "dl",
    )


def build_term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """term -> df, idf.  The idf table is the analogue of the reference's
    variance-based weight matrix (one aggregation pass producing per-dimension
    weights, /root/reference/src/playlist.rs:173-221).

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)   (BM25+, always positive)
    """
    return postings.groupBy("term", "term_bucket").agg(
        F.count(F.lit(1)).alias("df")
    ).withColumn(
        "idf",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
    )


def corpus_stats(doc_stats: DataFrame) -> dict:
    """Global N and avgdl in one aggregate pass."""
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return {"n_docs": int(row["n_docs"]), "avgdl": float(row["avgdl"] or 0.0)}


def hot_terms(term_stats: DataFrame, n_docs: int, cfg: IndexConfig) -> DataFrame:
    """Skew histogram: terms whose df exceeds the salting threshold
    (histogram+argmax idiom, /root/reference/src/chroma.rs:348-358)."""
    return term_stats.filter(
        F.col("df") >= F.lit(max(2.0, cfg.hot_term_df_ratio * n_docs))
    ).select("term", "df")


class InMemoryIndex:
    """The full logical index as DataFrames (tests, ad-hoc oracle queries).

    Persisted layout lives in sources/index_store.py; this class is the pure
    logical plan so the same build is testable without I/O.
    """

    def __init__(self, doc_stats: DataFrame, postings: DataFrame, term_stats: DataFrame,
                 n_docs: int, avgdl: float, cfg: IndexConfig):
        self.doc_stats = doc_stats
        self.postings = postings
        self.term_stats = term_stats
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.cfg = cfg


def build_index_frames(docs: DataFrame, cfg: IndexConfig | None = None) -> InMemoryIndex:
    # Tokenization feeds both doc_stats (acted on by corpus_stats) and
    # postings; cache it so the pandas UDF runs once.  The persisted build
    # (sources/index_store.py) gets the same effect by writing the tokenized
    # table to parquet and deriving both outputs from the written files.
    cfg = cfg or IndexConfig()
    tokenized, _errors = split_errors(tokenize_documents(docs, cfg))
    tokenized = tokenized.cache()
    doc_stats = build_doc_stats(tokenized)
    stats = corpus_stats(doc_stats)
    postings = build_postings(tokenized, cfg)
    term_stats = build_term_stats(postings, stats["n_docs"])
    return InMemoryIndex(
        doc_stats, postings, term_stats, stats["n_docs"], stats["avgdl"], cfg
    )
