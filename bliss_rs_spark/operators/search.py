"""Unified query-string search: one call that composes every retrieval
operator the engine ships.

Grammar (Lucene-flavored, whitespace-tokenized):

    +token      MUST contain (every analyzed sub-term its own group)
    -token      MUST NOT contain
    token       SHOULD (scores, doesn't constrain)
    "a b"       exact phrase (MUST; -"a b" = MUST NOT) — positional index
    tok*        prefix expansion over the vocabulary (scored)
    *tok        suffix expansion (leading wildcard; scored) — served from
                the reversed-term dictionary at scale (query_ops.py)
    tok~N       fuzzy expansion, Levenshtein <= N (scored; default N=1)
    field:val   metadata equality filter on doc_stats (-field:val negates)

Scoring: BM25 sum over the DISTINCT union of all scored terms (must +
should + expansions) — expansion overlap never double-counts (a per-term
"scorer" row is chosen inside the tiny query relation).  Negated terms and
phrases constrain only.  Corpus stats are global (filter semantics).

Physical shape (one scan, two tiny broadcasts, one aggregation):

    query relation  = driver terms ∪ DISTRIBUTED vocab expansions
                      (term, group_id, is_must, is_neg, scorer)  — tiny
    postings scan   pruned to the relation's buckets, joined broadcast
    one groupBy doc — score (scorer rows), must-group count (conditional
                      countDistinct), neg flag (conditional max): MUST /
                      MUST_NOT / SHOULD all inside a single aggregation
    then: metadata semi/anti joins (filters), phrase semi/anti joins
    (phrase_match over the positional frame), global top-k.

At 10^12 docs nothing here is new risk: the expansions stay distributed
(operators/query_ops.py), the aggregation is partial+final, phrase
constraints reuse the positional kernel, and the only driver-side values
are the parsed query itself and the bounded bucket list.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.placement import hash_bucket
from bliss_rs_spark.operators.bm25 import bm25_score_col, query_terms

__all__ = ["QuerySpec", "parse_query", "search"]


@dataclass
class QuerySpec:
    """Parsed query: lists of (op, value[, dist]) per construct, where op is
    '+' (must), '-' (must_not) or '' (should)."""

    terms: list[tuple[str, str]] = field(default_factory=list)
    phrases: list[tuple[str, str]] = field(default_factory=list)
    prefixes: list[tuple[str, str]] = field(default_factory=list)
    suffixes: list[tuple[str, str]] = field(default_factory=list)
    fuzzies: list[tuple[str, str, int]] = field(default_factory=list)
    filters: list[tuple[str, str, str]] = field(default_factory=list)  # (op, field, value)


_TOKEN_RE = re.compile(r'[+-]?"[^"]*"|\S+')


def parse_query(q: str) -> QuerySpec:
    """Parse the query grammar above.  Unknown constructs degrade to plain
    SHOULD terms (search boxes must not throw on odd input)."""
    spec = QuerySpec()
    for raw in _TOKEN_RE.findall(q):
        op = ""
        if raw[:1] in "+-":
            op, raw = raw[0], raw[1:]
        if not raw:
            continue
        if raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
            body = raw[1:-1].strip()
            if body:
                spec.phrases.append((op or "+", body))  # bare phrase = MUST
            continue
        m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*):(.+)", raw)
        if m:
            spec.filters.append((op, m.group(1), m.group(2)))
            continue
        if raw.endswith("*") and len(raw) > 1 and "*" not in raw[:-1]:
            spec.prefixes.append((op, raw[:-1].lower()))
            continue
        if raw.startswith("*") and len(raw) > 1 and "*" not in raw[1:]:
            spec.suffixes.append((op, raw[1:].lower()))
            continue
        m = re.fullmatch(r"(.+?)~(\d?)", raw)
        if m:
            spec.fuzzies.append((op, m.group(1).lower(), int(m.group(2) or 1)))
            continue
        spec.terms.append((op, raw))
    return spec


def _query_relation(
    spark: SparkSession,
    term_stats: DataFrame,
    spec: QuerySpec,
    cfg: IndexConfig,
    lang: str | None,
    reversed_terms: DataFrame | None = None,
    variants: DataFrame | None = None,
) -> tuple[DataFrame | None, int]:
    """-> ((term, group_id, is_must, is_neg, scorer) relation, n_must_groups).

    Driver terms become literal rows; prefix/fuzzy groups are vocabulary
    filters (DISTRIBUTED — the vocab never reaches the driver).  ``scorer``
    marks exactly one non-negated row per term so expansion overlap cannot
    double-score.  When the INDEXED expansion tables are supplied
    (``reversed_terms`` / ``variants``, query_ops.py:build_reversed_terms /
    build_deletion_variants), suffix and fuzzy groups come from pushed
    prefix / isin scans over them instead of the per-query vocab pass —
    expansion-identical (tested), storage-side-only swap."""
    parts: list[DataFrame] = []
    gid = 0
    n_must = 0
    lit_rows: list[tuple[str, int, bool, bool]] = []
    for op, tok in spec.terms:
        subs = query_terms(tok, lang, cfg)
        if not subs:
            continue
        if op == "+":
            # +fooBar analyzes to [foo, bar]: EACH sub-term is required
            for t in subs:
                lit_rows.append((t, gid, True, False))
                gid += 1
                n_must += 1
        else:
            for t in subs:
                lit_rows.append((t, gid, False, op == "-"))
            gid += 1
    if lit_rows:
        parts.append(
            spark.createDataFrame(
                lit_rows, "term string, group_id int, is_must boolean, is_neg boolean"
            )
        )

    def expansion_group(expanded: DataFrame, op: str) -> DataFrame:
        return expanded.select(
            "term",
            F.lit(gid).alias("group_id"),
            F.lit(op == "+").alias("is_must"),
            F.lit(op == "-").alias("is_neg"),
        )

    def vocab_group(flt: F.Column, op: str) -> DataFrame:
        return expansion_group(term_stats.filter(flt).select("term"), op)

    for op, prefix in spec.prefixes:
        parts.append(vocab_group(F.col("term").startswith(prefix), op))
        if op == "+":
            n_must += 1
        gid += 1
    for op, suffix in spec.suffixes:
        if reversed_terms is not None:
            from bliss_rs_spark.operators.query_ops import expand_suffix_indexed

            parts.append(
                expansion_group(
                    expand_suffix_indexed(reversed_terms, suffix).select("term"), op
                )
            )
        else:
            parts.append(vocab_group(F.col("term").endswith(suffix), op))
        if op == "+":
            n_must += 1
        gid += 1
    for op, t, dist in spec.fuzzies:
        if variants is not None:
            from bliss_rs_spark.operators.query_ops import expand_fuzzy_indexed

            parts.append(
                expansion_group(
                    expand_fuzzy_indexed(variants, t, dist).select("term"), op
                )
            )
        else:
            parts.append(
                vocab_group(F.levenshtein(F.col("term"), F.lit(t)) <= F.lit(dist), op)
            )
        if op == "+":
            n_must += 1
        gid += 1
    if not parts:
        return None, None, n_must
    rel = parts[0]
    for p in parts[1:]:
        rel = rel.unionByName(p)
    from pyspark.sql import Window as W

    scorer_rn = F.row_number().over(
        W.partitionBy("term").orderBy(
            F.col("is_neg").cast("int"), F.col("group_id")
        )
    )
    # (windowed relation, bare pre-window term set) — the term set feeds the
    # bucket-pruning probe, which does not need the scorer window's shuffle
    # or the idf join (guide §1.2: it is a strict subplan of the probe that
    # previously ran)
    return (
        rel.withColumn("rn", scorer_rn)
        .withColumn("scorer", (F.col("rn") == 1) & ~F.col("is_neg"))
        .drop("rn")
    ), rel.select("term"), n_must


# doc_stats metadata columns a field filter can target when no doc_stats
# frame is in hand to validate against (build_index.py:build_doc_stats)
_KNOWN_FIELDS = frozenset({"lang", "repo", "path", "commit", "content_sha256"})


def search(
    spark: SparkSession,
    postings: DataFrame,
    term_stats: DataFrame,
    avgdl: float,
    query_string: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    doc_stats: DataFrame | None = None,
    positional: DataFrame | None = None,
    lang: str | None = None,
    reversed_terms: DataFrame | None = None,
    variants: DataFrame | None = None,
) -> DataFrame:
    """Execute a full query-string search -> (doc_id, score) top-k.

    ``doc_stats`` is required when the query carries field filters;
    ``positional`` when it carries phrases (ValueError otherwise — the
    caller chose not to load that index).  A `word:rest` token whose field
    is NOT a doc_stats column degrades to a plain SHOULD term (round-5
    ADVICE: `std::vector` and URLs parse field-shaped; search boxes must
    not throw on odd input) — only KNOWN metadata fields are treated as
    filters.  ``reversed_terms`` / ``variants`` swap suffix / fuzzy
    expansion onto the indexed tables (see _query_relation)."""
    cfg = cfg or IndexConfig()
    spec = parse_query(query_string)
    real_filters: list[tuple[str, str, str]] = []
    for op, fld, val in spec.filters:
        known = (
            fld in doc_stats.columns if doc_stats is not None
            else fld in _KNOWN_FIELDS
        )
        if known:
            real_filters.append((op, fld, val))
        else:
            # unknown field (std::vector, https://...): degrade to a plain
            # term, PRESERVING the operator — '-std::vector' must stay an
            # exclusion, not become a SHOULD boost (round-6 ADVICE)
            spec.terms.append((op, f"{fld}:{val}"))
    spec.filters = real_filters
    if spec.filters and doc_stats is None:
        raise ValueError("query has field filters; pass doc_stats")
    if spec.phrases and positional is None:
        raise ValueError("query has phrases; pass the positional frame")

    rel, rel_terms, n_must = _query_relation(
        spark, term_stats, spec, cfg, lang, reversed_terms, variants
    )
    if rel is None:
        return spark.createDataFrame([], "doc_id long, score double")
    rel = rel.join(term_stats.select("term", "idf"), "term").select(
        "term", "group_id", "is_must", "is_neg", "scorer", "idf"
    )

    # bounded driver round-trip: bucket list for partition pruning (probed
    # over the pre-window term set — no scorer window, no idf join)
    buckets = sorted(
        r["b"]
        for r in rel_terms.select(
            hash_bucket("term", cfg.n_term_buckets).alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        return spark.createDataFrame([], "doc_id long, score double")

    joined = postings.filter(F.col("term_bucket").isin(buckets)).join(
        F.broadcast(rel), "term"
    )
    partial = bm25_score_col(cfg, avgdl)
    agg = joined.groupBy("doc_id").agg(
        F.sum(F.when(F.col("scorer"), partial).otherwise(F.lit(0.0))).alias("score"),
        F.countDistinct(
            F.when(F.col("is_must") & ~F.col("is_neg"), F.col("group_id"))
        ).alias("must_hits"),
        F.max(F.when(F.col("is_neg"), F.lit(1)).otherwise(F.lit(0))).alias("neg"),
    )
    hits = agg.filter(
        (F.col("must_hits") == F.lit(n_must)) & (F.col("neg") == 0)
    ).select("doc_id", "score")

    for op, fld, val in spec.filters:
        sel = doc_stats.filter(F.col(fld) == F.lit(val)).select("doc_id")
        hits = hits.join(sel, "doc_id", "left_anti" if op == "-" else "left_semi")

    if spec.phrases:
        from bliss_rs_spark.operators.phrase import phrase_match

        for op, body in spec.phrases:
            pm = phrase_match(spark, positional, body, cfg).select("doc_id")
            hits = hits.join(pm, "doc_id", "left_anti" if op == "-" else "left_semi")

    return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
