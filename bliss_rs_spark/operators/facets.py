"""Facet aggregation over search matches: "12,340 hits in rust, 9,771 in
python, ..." — the result-page sidebar every search engine ships.

Semantics: the facet is computed over the FULL conjunctive match set (every
doc containing ALL analyzed query terms), not the top-k page — facet counts
answer "how does the whole result set distribute", so they must not depend
on ranking.

Scale shape: term-pruned postings scan -> one partial+final conditional
count per doc (the same single aggregation boolean_topk uses for MUST) ->
equi-join the (query-selectivity-sized) match set with doc metadata ->
partial+final count per facet value.  Two shuffles, both keyed small:
matches by doc_id, then counts by facet value (cardinality = the metadata
domain).  No driver structure is proportional to the match count.

Reference parity: the reference's per-group statistics over an analysis
predicate (album-grouped playlists, /root/reference/src/playlist.rs:
256-307) is the same filter -> group -> aggregate composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.placement import buckets_of
from bliss_rs_spark.operators.bm25 import query_terms

__all__ = ["match_set", "facet_counts"]


def match_set(
    spark: SparkSession,
    postings: DataFrame,
    query_text: str,
    cfg: IndexConfig | None = None,
    lang: str | None = None,
) -> DataFrame:
    """(doc_id) of every document containing ALL the query's analyzed terms
    — the conjunctive candidate relation boolean_topk ranks and facets
    aggregate.  countDistinct(term), not count(1): a duplicated (term, doc)
    row — store re-adds can produce them, pack_trigrams defends against the
    same — would overshoot a plain count and wrongly EXCLUDE a doc that
    contains every term (round-5 ADVICE; the robust pattern
    substring_candidates already uses)."""
    cfg = cfg or IndexConfig()
    terms = query_terms(query_text, lang, cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    buckets = buckets_of(terms, cfg.n_term_buckets)
    pruned = postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    return (
        pruned.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_terms"))
        .filter(F.col("n_terms") == F.lit(len(terms)))
        .select("doc_id")
    )


def facet_counts(
    spark: SparkSession,
    postings: DataFrame,
    doc_stats: DataFrame,
    query_text: str,
    facet_col: str,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """(facet value, n_docs) over the conjunctive match set, ordered
    (n_docs DESC, value ASC).  ``facet_col`` is any doc_stats metadata
    column (lang, repo, ...)."""
    matches = match_set(spark, postings, query_text, cfg)
    return (
        doc_stats.select("doc_id", facet_col)
        .join(matches, "doc_id")
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(facet_col))
    )
