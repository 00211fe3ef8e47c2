"""Exhaustive BM25 top-k scoring — the engine's query path.

Reference parity: bliss-rs's query path trains a metric on the seeds, scores
every candidate once via a cached key, sorts ascending and takes n
(``closest_to_songs``, /root/reference/src/playlist.rs:256-270; consumed via
``.take(n)``, examples/library.rs:196-200).  Ours: tokenize the query with
the SAME analyzer (the reference's "same decoder contract"), broadcast the
tiny query-term table, prune the postings scan to the query terms' buckets,
score with a pure column expression (never a UDF — the scoring formula is
the ``DistanceMetric`` analogue, src/playlist.rs:24-33, and stays JVM-side),
aggregate per doc, and take top-k with the canonical tie-break
(score DESC, doc_id ASC).

At cluster scale this plan is: broadcast-join (query terms are tiny) ->
partition-pruned parquet scan (term_bucket isin) -> partial+final sum
aggregation -> global top-k (orderBy.limit, which Spark executes as
per-partition top-k + merge on the driver: no full sort materializes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.placement import buckets_of
from bliss_rs_spark.functions.tokenizer import term_counts


def query_terms(query_text: str, lang: str | None = None, cfg: IndexConfig | None = None) -> list[str]:
    """Tokenize a query with the document analyzer; duplicate query terms are
    collapsed (standard BM25: one contribution per unique term)."""
    cfg = cfg or IndexConfig()
    return sorted(term_counts(query_text, lang, cfg.lang_tagging).keys())


def bm25_score_col(cfg: IndexConfig, avgdl: float) -> F.Column:
    """BM25 per-posting partial score: idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)).

    Pure float64 column arithmetic (Robertson/Spärck Jones, public BM25).
    Columns required in scope: tf (int), dl (int), idf (double).
    """
    k1, b = float(cfg.k1), float(cfg.b)
    tf = F.col("tf").cast("double")
    norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(float(avgdl))
    return F.col("idf") * tf * F.lit(k1 + 1.0) / (tf + F.lit(k1) * norm)


def bm25_topk(
    spark: SparkSession,
    postings: DataFrame,
    term_stats: DataFrame,
    avgdl: float,
    query_text: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    lang: str | None = None,
) -> DataFrame:
    """Exhaustive (un-pruned) BM25 top-k.  Serves as the rank oracle for the
    block-max WAND path (SURVEY.md §4.2) and as the correctness surface for
    the DuckDB oracle."""
    cfg = cfg or IndexConfig()
    terms = query_terms(query_text, lang, cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")

    buckets = buckets_of(terms, cfg.n_term_buckets)

    # Both predicates reach the parquet scan: term_bucket IN (...) prunes
    # whole partition directories, term IN (...) is a pushed filter that
    # skips row groups (postings are sorted by term within each bucket file).
    # An isin filter — unlike a join against a query-term table — survives
    # into PushedFilters; the only join left is the broadcast idf lookup.
    pruned = postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    scored = pruned.join(
        F.broadcast(
            term_stats.filter(F.col("term").isin(terms)).select("term", "idf")
        ),
        "term",
    ).withColumn("partial", bm25_score_col(cfg, avgdl))

    return (
        scored.groupBy("doc_id")
        .agg(F.sum("partial").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_batch(
    spark: SparkSession,
    postings: DataFrame,
    term_stats: DataFrame,
    avgdl: float,
    queries: list[tuple[int, str, int]],
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Score a whole query SET in one Spark job: (query_id, text, k) rows.

    One broadcast join against (query_id, term) pairs scores every query in a
    single pass over the pruned postings — the per-query loop never touches
    the cluster. Top-k per query via a rank window (top-k-per-group idiom).
    """
    from pyspark.sql import Window as W

    cfg = cfg or IndexConfig()
    pairs = []
    kmap = {}
    for qid, text, k in queries:
        kmap[qid] = k
        for t in query_terms(text, None, cfg):
            pairs.append((qid, t))
    if not pairs:
        return spark.createDataFrame([], "query_id int, rank int, doc_id long, score double")

    qdf = spark.createDataFrame(pairs, "query_id int, term string")
    all_terms = sorted({t for _, t in pairs})
    buckets = buckets_of(all_terms, cfg.n_term_buckets)
    kdf = spark.createDataFrame(list(kmap.items()), "query_id int, k int")

    # scan pre-filtered by pushed term IN (...) + pruned buckets; the qdf
    # broadcast join then fans each posting out to the queries that use it
    scored = (
        postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(all_terms)
        )
        .join(F.broadcast(qdf), "term")
        .join(
            F.broadcast(term_stats.filter(F.col("term").isin(all_terms)).select("term", "idf")),
            "term",
        )
        .withColumn("partial", bm25_score_col(cfg, avgdl))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(kdf), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
