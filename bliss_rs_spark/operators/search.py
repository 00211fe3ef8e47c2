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
should + expansions): the query relation holds one row per term, so
expansion overlap never double-counts.  Negated terms and phrases
constrain only.  Corpus stats are global (filter semantics).

Physical shape (no driver round-trip; building the plan runs no job):

    query relation  = ONE term_stats scan filtered to the query's terms
                      (pushed term IN (...) for literal terms, vocab
                      predicates for prefix/suffix/fuzzy groups), one row
                      per term: (term, idf, scored, neg, must masks) — tiny
    postings scan   literal-only: pruned on the driver to the terms'
                      buckets (placement.buckets_of) with term IN (...)
                      pushed; with expansions: joined on (term_bucket,
                      term) so dynamic partition pruning prunes the dirs
    one groupBy doc — score (sum over scored rows), must test (bit_or of
                      the must-group masks equals all ones), neg flag
                      (bool_or): MUST / MUST_NOT / SHOULD in one
                      aggregation, one shuffle
    then: metadata semi/anti joins (filters), phrase semi/anti joins
    (phrase_match over the positional frame), global top-k.

At 10^12 docs nothing here is new risk: expansions stay distributed (or
come from the indexed tables of operators/query_ops.py), the aggregation is
partial+final, phrase constraints reuse the positional kernel, and the only
driver-side values are the parsed query itself and its literal terms.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.placement import buckets_of, hash_bucket
from bliss_rs_spark.operators.bm25 import bm25_score_col, query_terms
from bliss_rs_spark.operators.query_ops import (
    expand_fuzzy_indexed,
    expand_suffix_indexed,
)

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


_MASK_BITS = 63  # must groups per bit_or mask column (sign bit unused)


@dataclass
class _Relation:
    """The query relation and what the postings side needs to join it."""

    frame: DataFrame  # (term, idf, scored, neg, m0..): one row per term
    literals: list[str] | None  # every term, when no group is an expansion
    masks: list[int]  # per mask column: the value meaning "all must groups"


def _query_relation(
    term_stats: DataFrame,
    spec: QuerySpec,
    cfg: IndexConfig,
    lang: str | None,
    reversed_terms: DataFrame | None = None,
    variants: DataFrame | None = None,
) -> _Relation | None:
    """One row per vocabulary term the query touches, with its flags.

    Every group (a literal MUST sub-term, a literal SHOULD/MUST_NOT token,
    a prefix, suffix or fuzzy expansion) is a predicate over term_stats'
    ``term``, so the relation is one filtered vocab scan and its flags are
    plain expressions: ``scored`` (in some non-negated group), ``neg`` (in
    some MUST_NOT group) and the must masks (bit i of mask column i // 63
    set for membership in must group i).  Expansions stay DISTRIBUTED, the
    vocab never reaches the driver.  When the INDEXED expansion tables are
    supplied (``reversed_terms`` / ``variants``, query_ops.py:
    build_reversed_terms / build_deletion_variants), suffix and fuzzy groups
    come from pushed prefix / isin scans over them, left-joined onto the
    vocab as membership flags — expansion-identical (tested)."""
    term = F.col("term")
    groups: list[tuple[str, F.Column | DataFrame]] = []  # (op, membership)
    literals: list[str] = []
    for op, tok in spec.terms:
        subs = query_terms(tok, lang, cfg)
        literals += subs
        if op == "+":
            # +fooBar analyzes to [foo, bar]: EACH sub-term is required
            groups += [(op, term == t) for t in subs]
        elif subs:
            groups.append((op, term.isin(subs)))
    expansions: list[tuple[str, F.Column | DataFrame]] = [
        (op, term.startswith(prefix)) for op, prefix in spec.prefixes
    ]
    for op, suffix in spec.suffixes:
        expansions.append((op, (
            expand_suffix_indexed(reversed_terms, suffix)
            if reversed_terms is not None else term.endswith(suffix)
        )))
    for op, t, dist in spec.fuzzies:
        expansions.append((op, (
            expand_fuzzy_indexed(variants, t, dist)
            if variants is not None
            else F.levenshtein(term, F.lit(t)) <= F.lit(dist)
        )))
    if not groups and not expansions:
        return None

    vocab = term_stats.select("term", "idf")
    for i, (op, member) in enumerate(expansions):
        if isinstance(member, DataFrame):
            flag = f"_in{i}"
            vocab = vocab.join(
                F.broadcast(member.select("term", F.lit(True).alias(flag))),
                "term",
                "left",
            )
            expansions[i] = (op, F.col(flag).isNotNull())
    groups += expansions

    def any_of(conds: list[F.Column]) -> F.Column:
        return reduce(lambda a, b: a | b, conds, F.lit(False))

    must = [c for op, c in groups if op == "+"]
    chunks = [must[j : j + _MASK_BITS] for j in range(0, len(must), _MASK_BITS)]
    mask_cols = [
        reduce(
            lambda a, b: a.bitwiseOR(b),
            [
                F.when(c, F.lit(1 << bit)).otherwise(F.lit(0)).cast("long")
                for bit, c in enumerate(chunk)
            ],
        ).alias(f"m{j}")
        for j, chunk in enumerate(chunks)
    ]
    member = [c for _, c in expansions]
    if literals:
        member.append(term.isin(literals))  # pushed into the vocab scan
    frame = vocab.filter(any_of(member)).select(
        "term",
        "idf",
        any_of([c for op, c in groups if op != "-"]).alias("scored"),
        any_of([c for op, c in groups if op == "-"]).alias("neg"),
        *mask_cols,
    )
    return _Relation(
        frame=frame,
        literals=None if expansions else sorted(set(literals)),
        masks=[(1 << len(chunk)) - 1 for chunk in chunks],
    )


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

    rel = _query_relation(term_stats, spec, cfg, lang, reversed_terms, variants)
    if rel is None:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    if rel.literals is not None:
        # literal terms only: prune on the driver, as bm25_topk does — the
        # bucket IN (...) prunes partition dirs, term IN (...) row groups
        joined = postings.filter(
            F.col("term_bucket").isin(buckets_of(rel.literals, cfg.n_term_buckets))
            & F.col("term").isin(rel.literals)
        ).join(F.broadcast(rel.frame), "term")
    else:
        # expansion terms are only known at run time: joining on the bucket
        # too lets dynamic partition pruning skip the postings dirs
        joined = postings.join(
            F.broadcast(
                rel.frame.withColumn(
                    "term_bucket", hash_bucket("term", cfg.n_term_buckets)
                )
            ),
            ["term_bucket", "term"],
        )
    partial = bm25_score_col(cfg, avgdl)
    agg = joined.groupBy("doc_id").agg(
        F.sum(F.when(F.col("scored"), partial).otherwise(F.lit(0.0))).alias("score"),
        F.bool_or("neg").alias("neg"),
        *[F.bit_or(f"m{j}").alias(f"m{j}") for j in range(len(rel.masks))],
    )
    keep = ~F.col("neg")
    for j, full in enumerate(rel.masks):
        keep = keep & (F.col(f"m{j}") == F.lit(full))
    hits = agg.filter(keep).select("doc_id", "score")

    for op, fld, val in spec.filters:
        sel = doc_stats.filter(F.col(fld) == F.lit(val)).select("doc_id")
        hits = hits.join(sel, "doc_id", "left_anti" if op == "-" else "left_semi")

    if spec.phrases:
        from bliss_rs_spark.operators.phrase import phrase_match

        for op, body in spec.phrases:
            pm = phrase_match(spark, positional, body, cfg).select("doc_id")
            hits = hits.join(pm, "doc_id", "left_anti" if op == "-" else "left_semi")

    return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
