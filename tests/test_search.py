"""Unified query-string search: parser unit tests + end-to-end semantics of
every construct (must/should/not, phrase, prefix, fuzzy, field filter) vs
hand-computed expectations on a fixture corpus."""

import pytest
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.tokenizer import term_counts
from bliss_rs_spark.operators.build_index import build_index_frames
from bliss_rs_spark.operators.phrase import build_positional_postings
from bliss_rs_spark.operators.search import parse_query, search

CFG = IndexConfig()

TEXTS = [
    "merge sort beats bubble sort on big tables",         # 0
    "hash join and merge join walk into a table",         # 1
    "the table scans twice under a slow filter",          # 2
    "spark shuffles the hash partitions into sorted runs",  # 3
    "merge merge merge conflict in the join path",        # 4
    "a vector index answers the nearest neighbor query",  # 5
    "mergeSort in camelCase form beats a table scan",     # 6
]
LANGS = ["rust", "python", "rust", "go", "python", "rust", "rust"]


@pytest.fixture(scope="module")
def env(spark):
    rows = [
        (f"r{i}", f"f{i}.txt", "c" * 40, LANGS[i], t)
        for i, t in enumerate(TEXTS)
    ]
    from bliss_rs_spark.corpus import with_invariants

    docs = with_invariants(
        spark.createDataFrame(
            rows,
            "repo string, path string, commit string, lang string, content string",
        )
    )
    idx = build_index_frames(docs, CFG)
    idx.postings = idx.postings.cache()
    idx.term_stats = idx.term_stats.cache()
    pos = build_positional_postings(docs, CFG).cache()
    ids = {
        r["path"]: r["doc_id"]
        for r in idx.doc_stats.select("path", "doc_id").collect()
    }
    order = [ids[f"f{i}.txt"] for i in range(len(TEXTS))]
    return idx, pos, order


def _hit_indexes(env_tuple, q, **kw):
    idx, pos, order = env_tuple
    inv = {d: i for i, d in enumerate(order)}
    out = search(
        idx.postings.sparkSession, idx.postings, idx.term_stats, idx.avgdl,
        q, k=20, cfg=CFG, doc_stats=idx.doc_stats, positional=pos, **kw
    ).collect()
    return [inv[r["doc_id"]] for r in out]


# --- parser -------------------------------------------------------------------

def test_parse_constructs():
    spec = parse_query('+table -vector merg* *ort joi~1 lang:rust -"hash join" plain')
    assert spec.terms == [("+", "table"), ("-", "vector"), ("", "plain")]
    assert spec.prefixes == [("", "merg")]
    assert spec.suffixes == [("", "ort")]
    assert spec.fuzzies == [("", "joi", 1)]
    assert spec.filters == [("", "lang", "rust")]
    assert spec.phrases == [("-", "hash join")]


def test_parse_bare_phrase_is_must():
    assert parse_query('"fast path"').phrases == [("+", "fast path")]


def test_parse_fuzzy_default_dist():
    assert parse_query("tabel~").fuzzies == [("", "tabel", 1)]


def test_parse_degrades_gracefully():
    spec = parse_query("weird**token :colon ~")
    # nothing throws; odd tokens land SOMEWHERE (should-terms at worst)
    assert isinstance(spec.terms, list)


# --- end-to-end semantics ------------------------------------------------------

def _docs_with(*needles, without=()):
    tcs = [set(term_counts(t, None, False)) for t in TEXTS]
    return {
        i
        for i, tc in enumerate(tcs)
        if all(n in tc for n in needles) and not any(w in tc for w in without)
    }


def test_must_and_not(env):
    got = set(_hit_indexes(env, "+table -slow"))
    assert got == _docs_with("table", without=("slow",))
    assert got, "vacuous"


def test_should_ranks_but_does_not_constrain(env):
    got = set(_hit_indexes(env, "+join merge"))
    assert got == _docs_with("join")


def test_prefix_and_fuzzy(env):
    got = set(_hit_indexes(env, "merg*"))
    assert got >= _docs_with("merge"), "prefix must cover exact-term docs"
    got_f = set(_hit_indexes(env, "tabl~1"))
    assert got_f == _docs_with("table")


def test_suffix_wildcard(env):
    # *ort covers 'sort' (docs 0, 6 via camelCase subtoken, 3 via 'sorted'? no
    # — endswith is exact-term: sort only); must cover every sort-term doc
    got = set(_hit_indexes(env, "*ort"))
    assert got == _docs_with("sort"), "suffix expansion must equal endswith set"
    assert got, "vacuous"
    # MUST form constrains
    got_m = set(_hit_indexes(env, "+*ort merge"))
    assert got_m == _docs_with("sort")


def test_field_filter(env):
    got = set(_hit_indexes(env, "table lang:rust"))
    assert got == {i for i in _docs_with("table") if LANGS[i] == "rust"}
    assert got, "vacuous"
    neg = set(_hit_indexes(env, "table -lang:rust"))
    assert neg == {i for i in _docs_with("table") if LANGS[i] != "rust"}


def test_phrase_must_and_not(env):
    got = set(_hit_indexes(env, 'join "hash join"'))
    assert got == {1}
    neg = set(_hit_indexes(env, '+join -"hash join"'))
    assert neg == _docs_with("join") - {1}


def test_camelcase_must_requires_all_subterms(env):
    # +mergeSort -> sub-terms merge AND sort both required
    got = set(_hit_indexes(env, "+mergeSort"))
    assert got == _docs_with("merge", "sort")
    assert 6 in got  # the camelCase doc itself
    assert 4 not in got  # merge without sort


def test_expansion_overlap_does_not_double_score(env):
    """'merge merg*' — the exact term also matches the prefix; scores must
    equal the plain dedup'd expansion (each term scored once)."""
    idx, pos, order = env
    spark = idx.postings.sparkSession
    a = search(
        spark, idx.postings, idx.term_stats, idx.avgdl, "merge merg*",
        k=20, cfg=CFG,
    ).collect()
    b = search(
        spark, idx.postings, idx.term_stats, idx.avgdl, "merg*",
        k=20, cfg=CFG,
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_requires_indices_for_constructs(env):
    idx, pos, order = env
    spark = idx.postings.sparkSession
    with pytest.raises(ValueError):
        search(spark, idx.postings, idx.term_stats, idx.avgdl, "lang:rust x", cfg=CFG)
    with pytest.raises(ValueError):
        search(spark, idx.postings, idx.term_stats, idx.avgdl, '"a b"', cfg=CFG)


def test_empty_and_unknown(env):
    assert _hit_indexes(env, "zzz_unknown_term") == []
    assert _hit_indexes(env, "   ") == []

@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    """A positional store after a delete update: (source docs, store)."""
    from bliss_rs_spark.corpus import synth_documents, with_invariants
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = IndexConfig(store_positions=True)
    docs = with_invariants(synth_documents(spark, 120, seed=3)).cache()
    store = IndexStore(str(tmp_path_factory.mktemp("churned") / "idx"))
    build_full(spark, docs, store, cfg, checkpoint=False)
    update_index(
        spark,
        docs.filter(F.col("doc_id") % 4 != 0),
        store,
        None,
        delete_missing=True,
        repack="segment",
    )
    return docs, store


def test_search_through_store_with_churn(spark, churned, tmp_path):
    """search_index: the unified grammar against a LIVE store after a
    delete update — results exclude tombstoned docs and agree with the
    independent boolean_topk + metadata-join composition over the same
    store frames."""
    from bliss_rs_spark.operators.query_ops import boolean_topk
    from bliss_rs_spark.plans.lifecycle import build_full, search_index
    from bliss_rs_spark.sources.index_store import IndexStore

    docs, store = churned
    got = search_index(spark, store, "+posting -codec lang:rust", k=50).collect()
    assert got, "vacuous"
    live_rust = {
        r["doc_id"]
        for r in docs.filter(
            (F.col("doc_id") % 4 != 0) & (F.col("lang") == "rust")
        ).collect()
    }
    assert {r["doc_id"] for r in got} <= live_rust

    # independent composition: boolean_topk over the SAME live frames + join
    meta = store.meta()
    postings = store.load(spark, "postings")
    term_stats = store.load(spark, "term_stats")
    want = (
        boolean_topk(
            spark, postings, term_stats, meta["avgdl"],
            must="posting", must_not="codec", k=1_000_000, cfg=store.config(),
        )
        .join(store.load(spark, "doc_stats").filter(F.col("lang") == "rust")
              .select("doc_id"), "doc_id", "left_semi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
        .collect()
    )
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]

    # phrase constraint through the store positional frame
    got_p = search_index(spark, store, '"posting block" lang:rust', k=50).collect()
    for r in got_p:
        assert r["doc_id"] in live_rust

    # no positions stored -> clear error
    store2 = IndexStore(str(tmp_path / "idx2"))
    build_full(spark, docs, store2, IndexConfig(), checkpoint=False)
    with pytest.raises(ValueError, match="store_positions"):
        search_index(spark, store2, '"a b"')


def test_unknown_field_token_degrades_to_should(env):
    """`word:rest` tokens whose field is not a doc_stats column (std::vector,
    URLs) degrade to plain SHOULD terms instead of throwing (round-5
    ADVICE): scoring equals the same query with the token's analyzed
    sub-terms as loose words."""
    idx, pos, order = env
    spark = idx.postings.sparkSession

    def run(q, **kw):
        return sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in search(
                spark, idx.postings, idx.term_stats, idx.avgdl, q, k=20,
                cfg=CFG, doc_stats=idx.doc_stats, positional=pos, **kw
            ).collect()
        )

    # does not throw, and scores exactly like the spaced form
    assert run("std::vector merge") == run("std vector merge")
    assert run("https://example.com/table") == run("https example com table")
    # without doc_stats: unknown fields still degrade...
    assert sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in search(
            spark, idx.postings, idx.term_stats, idx.avgdl,
            "std::vector merge", k=20, cfg=CFG,
        ).collect()
    ) == run("std vector merge")
    # ...but KNOWN metadata fields keep demanding doc_stats (real filters)
    with pytest.raises(ValueError):
        search(
            spark, idx.postings, idx.term_stats, idx.avgdl,
            "lang:rust merge", k=20, cfg=CFG,
        )
    # and with doc_stats in hand they still filter
    assert sorted(_hit_indexes(env, "merge lang:python")) == [1, 4]


def test_indexed_expansions_identical_and_pushed(env, tmp_path):
    """search() over the reversed-term / deletion-variant tables returns
    byte-identical results to the vocab-scan path, and the stored
    reversed_terms scan is a PUSHED StringStartsWith (the reason the table
    exists — round-5 verdict #3)."""
    from bliss_rs_spark.operators.query_ops import (
        build_deletion_variants,
        build_reversed_terms,
        expand_suffix_indexed,
    )

    idx, pos, order = env
    spark = idx.postings.sparkSession
    rt_path = str(tmp_path / "rterms")
    build_reversed_terms(idx.term_stats).sort("rterm").write.parquet(rt_path)
    rt = spark.read.parquet(rt_path)
    dv = build_deletion_variants(idx.term_stats, max_dist=2).cache()

    q = "*ort merge~1 tabl*"
    scan = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in search(
            spark, idx.postings, idx.term_stats, idx.avgdl, q, k=20, cfg=CFG
        ).collect()
    )
    indexed = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in search(
            spark, idx.postings, idx.term_stats, idx.avgdl, q, k=20, cfg=CFG,
            reversed_terms=rt, variants=dv,
        ).collect()
    )
    assert scan and scan == indexed
    # plan audit: suffix expansion over the stored table pushes the prefix
    plan = (
        expand_suffix_indexed(rt, "ort")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "StartsWith(rterm" in plan, plan[:2000]
    dv.unpersist()


def test_search_index_plan_runs_no_job_and_no_python(spark, churned):
    """Building search_index runs no Spark job (no bucket probe, no schema
    inference); the executed plan scans no Python RDD; a literal query
    pushes term IN (...) into the postings and term_stats scans, and an
    expansion query prunes postings dirs by dynamic partition pruning."""
    import re
    import uuid

    from bliss_rs_spark.plans.lifecycle import search_index

    _docs, store = churned
    sc = spark.sparkContext
    group = f"search-plan-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "search_index planning")
    try:
        literal = search_index(spark, store, "+posting block -codec", k=5)
        prefix = search_index(spark, store, "pos* +block", k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    def scans(df):
        assert df.collect(), "vacuous"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        lines = [ln for ln in plan.splitlines() if "FileScan parquet [term#" in ln]
        postings = [ln for ln in lines if re.search(r",tf#\d+", ln)]
        term_stats = [ln for ln in lines if re.search(r",idf#\d+", ln)]
        assert postings and term_stats, plan
        return postings, term_stats

    postings, term_stats = scans(literal)
    for ln in postings + term_stats:
        assert "PushedFilters: [In(term, [" in ln, ln
    postings, _ = scans(prefix)
    for ln in postings:
        assert "dynamicpruningexpression(term_bucket" in ln, ln


# --- grammar grid vs a pure-Python evaluator ----------------------------------

def _levenshtein(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _reference_search(q, postings, idf, avgdl):
    """{doc_id: score} of the grammar over collected rows: a doc matches
    when it holds a term of every MUST group and no MUST_NOT term; it
    scores the BM25 partials of its terms that sit in some non-negated
    group, each term once."""
    from bliss_rs_spark.operators.bm25 import query_terms

    spec = parse_query(q)
    vocab = set(idf)
    groups = []  # (op, set of terms)
    for op, tok in spec.terms:
        subs = query_terms(tok, None, CFG)
        if op == "+":
            groups += [(op, {t}) for t in subs]
        elif subs:
            groups.append((op, set(subs)))
    groups += [(op, {t for t in vocab if t.startswith(p)}) for op, p in spec.prefixes]
    groups += [(op, {t for t in vocab if t.endswith(s)}) for op, s in spec.suffixes]
    groups += [
        (op, {t for t in vocab if _levenshtein(t, w) <= d}) for op, w, d in spec.fuzzies
    ]
    scored = set().union(*[g for op, g in groups if op != "-"])
    neg = set().union(*[g for op, g in groups if op == "-"])
    must = [g for op, g in groups if op == "+"]
    touched = scored | neg
    k1, b = CFG.k1, CFG.b
    docs = {}
    for term, doc, tf, dl in postings:
        if term in touched:
            docs.setdefault(doc, []).append((term, tf, dl))
    out = {}
    for doc, rows in docs.items():
        terms = {t for t, _, _ in rows}
        if terms & neg or not all(terms & g for g in must):
            continue
        out[doc] = sum(
            idf[t] * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
            for t, tf, dl in rows
            if t in scored
        )
    return out


def _grammar_grid(vocab, seed=11, n=16):
    """Seeded random grammar queries plus the fixed edge cases."""
    import random

    rng = random.Random(seed)
    words = sorted(vocab)

    def clause():
        w = rng.choice(words)
        op = rng.choice(["+", "-", "", ""])
        kind = rng.choice(["term", "term", "prefix", "suffix", "fuzzy"])
        if kind == "prefix":
            return f"{op}{w[: rng.randint(2, 4)]}*"
        if kind == "suffix":
            return f"{op}*{w[-rng.randint(2, 3):]}"
        if kind == "fuzzy":
            i = rng.randrange(len(w))
            return f"{op}{w[:i]}x{w[i + 1:]}~1"
        return f"{op}{w}"

    grid = [" ".join(clause() for _ in range(rng.randint(1, 4))) for _ in range(n)]
    return grid + [
        "+merge +zzz_missing_term join",  # must term absent from the vocab
        "+table -table",  # +a -a
        "merge merg* mer* +join",  # overlapping expansions
        "tabl~1 table tables~2",  # fuzzy overlapping a literal
        " ".join(["+merg*"] * 69) + " +table",  # 70 must groups, 2 masks
        " ".join(["+merg*"] * 69) + " +vect*",  # the 70th group fails
        " ".join(["+merge"] * 63) + " +sort -conflict",  # 64th decides
    ]


def test_grammar_grid_matches_reference(env):
    """Every grid query's full answer (doc set and scores) equals the
    pure-Python evaluator's over the same postings and idf."""
    from functools import reduce

    idx, _pos, _order = env
    spark = idx.postings.sparkSession
    postings = [
        (r["term"], r["doc_id"], r["tf"], r["dl"])
        for r in idx.postings.select("term", "doc_id", "tf", "dl").collect()
    ]
    idf = {r["term"]: r["idf"] for r in idx.term_stats.select("term", "idf").collect()}
    grid = _grammar_grid(idf)
    # one action for the whole grid: the answers, tagged by grid position
    answers = reduce(
        lambda a, b: a.unionByName(b),
        [
            search(
                spark, idx.postings, idx.term_stats, idx.avgdl, q, k=len(TEXTS), cfg=CFG
            ).withColumn("qi", F.lit(i))
            for i, q in enumerate(grid)
        ],
    ).collect()
    got = {i: {} for i in range(len(grid))}
    for r in answers:
        got[r["qi"]][r["doc_id"]] = r["score"]
    nonempty = 0
    for i, q in enumerate(grid):
        want = _reference_search(q, postings, idf, idx.avgdl)
        assert set(got[i]) == set(want), q
        for d, score in want.items():
            assert got[i][d] == pytest.approx(score, abs=1e-9), q
        nonempty += bool(want)
    assert nonempty >= len(grid) // 2, "vacuous grid"
    for edge in ("+merge +zzz_missing_term join", "+table -table"):
        assert got[grid.index(edge)] == {}
    assert got[grid.index(" ".join(["+merg*"] * 69) + " +table")], "vacuous"
    assert got[grid.index(" ".join(["+merge"] * 63) + " +sort -conflict")]
