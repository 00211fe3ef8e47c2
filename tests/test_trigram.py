"""Trigram substring/regex search: extraction correctness, pruning
soundness AND effectiveness (non-vacuous: candidates must be a strict
sliver of the corpus), short-needle fallback, and the regex
required-literal derivation."""

import re

import pytest
from pyspark.sql import functions as F

from bliss_rs_spark.operators.trigram import (
    build_trigram_index,
    regex_required_literals,
    regex_search,
    substring_candidates,
    substring_search,
    trigrams_of,
)

DOCS = [
    (0, "fn main() { println!(\"hello world\"); }"),
    (1, "def main():\n    print('hello world')"),
    (2, "class HelloWorld { public static void main(String[] a) {} }"),
    (3, "SELECT doc_id FROM documents WHERE contains(text, 'needle')"),
    (4, "let hello_world = compute_hash_join(left, right);"),
    (5, "x"),  # shorter than one trigram
    (6, "merge sort and hash join walk into a bar"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, content string").cache()


@pytest.fixture(scope="module")
def tri(docs):
    return build_trigram_index(docs).cache()


def _py_trigrams(s):
    return {s[i : i + 3] for i in range(len(s) - 2)}


def test_index_matches_python_extraction(docs, tri):
    got = {
        (r["doc_id"], r["gram"]) for r in tri.select("doc_id", "gram").collect()
    }
    want = {(i, g) for i, s in DOCS for g in _py_trigrams(s)}
    assert got == want  # incl. doc 5 contributing nothing


def test_trigrams_of_is_distinct_sorted():
    assert trigrams_of("aaaa") == ["aaa"]
    assert trigrams_of("ab") == []


@pytest.mark.parametrize(
    "needle", ["hello world", "hash join", "main()", "doc_id", "ain(S"]
)
def test_substring_search_exact(docs, tri, needle):
    got = sorted(r["doc_id"] for r in substring_search(docs, tri, needle).collect())
    want = sorted(i for i, s in DOCS if needle in s)
    assert got == want
    assert want, f"vacuous needle {needle!r}"  # every case must match something


def test_candidates_are_superset_and_pruned(docs, tri):
    # 'hash join' appears verbatim in 4? no — doc 4 has hash_join, doc 6 has
    # 'hash join'.  Candidates must cover the true answer AND exclude docs
    # that share no grams.
    cand = {r["doc_id"] for r in substring_candidates(tri, "hash join").collect()}
    assert 6 in cand
    assert {i for i, s in DOCS if "hash join" in s} <= cand
    assert 5 not in cand and 3 not in cand  # pruning actually prunes


def test_short_needle_full_scan_fallback(docs, tri):
    got = sorted(r["doc_id"] for r in substring_search(docs, tri, "x").collect())
    assert got == sorted(i for i, s in DOCS if "x" in s)
    assert 5 in got


def test_rarest_k_gram_budget_still_exact(docs, tri):
    full = sorted(
        r["doc_id"] for r in substring_search(docs, tri, "hello world").collect()
    )
    budget = sorted(
        r["doc_id"]
        for r in substring_search(docs, tri, "hello world", max_query_grams=3).collect()
    )
    assert budget == full


@pytest.mark.parametrize(
    "pattern,want",
    [
        ("hello world", ["hello world"]),
        ("hello (world|there)", ["hello "]),
        ("(hash|merge) join", [" join"]),
        ("ke?y agg", ["k", "y agg"]),
        ("main\\(\\)", ["main()"]),
        ("colou?r", ["colo", "r"]),
        ("a+b", ["a", "b"]),  # a+ still requires one a; run break is fine
        ("x*yz", ["yz"]),
        ("foo|bar", []),  # top-level alternation: nothing guaranteed
        ("\\d+\\.\\d+", ["."]),
        ("^import\\s+os$", ["import", "os"]),
        ("aa{|", []),  # "{" opening no quantifier: bail, "|" not swallowed
    ],
)
def test_regex_required_literals(pattern, want):
    got = regex_required_literals(pattern)
    assert got == want
    # soundness: every literal must be a substring of every match the
    # pattern accepts — spot-check with a generated example when trivial
    for lit in got:
        assert lit  # never empty


def test_regex_required_literals_sound_on_matches():
    # property: for strings that MATCH the pattern, every required literal
    # is present
    cases = [
        ("hello (world|there)", ["hello world", "hello there"]),
        ("ke?y agg", ["key agg", "ky agg"]),
        ("colou?r", ["color", "colour"]),
        ("a+b", ["ab", "aaab"]),
    ]
    for pattern, matches in cases:
        lits = regex_required_literals(pattern)
        for m in matches:
            assert re.fullmatch(pattern, m)
            for lit in lits:
                assert lit in m, (pattern, m, lit)


@pytest.mark.parametrize(
    "pattern",
    ["hello (world|there)", "(hash|merge) join", "main\\(\\)", "doc_id|hash_join"],
)
def test_regex_search_exact(docs, tri, pattern):
    got = sorted(r["doc_id"] for r in regex_search(docs, tri, pattern).collect())
    want = sorted(i for i, s in DOCS if re.search(pattern, s))
    assert got == want
    assert want, f"vacuous pattern {pattern!r}"


def test_candidate_plan_pushes_gram_filter_no_content_scan(docs, tri, tmp_path):
    """Against a STORED trigram index (the production shape), candidate
    generation never touches document content and the gram IN-list reaches
    the parquet scan as a pushed filter."""
    p = str(tmp_path / "tri.parquet")
    tri.write.partitionBy("gram_bucket").parquet(p)  # the store's layout
    stored = docs.sparkSession.read.parquet(p)
    plan = (
        substring_candidates(stored, "hash join")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "content" not in plan
    assert "PushedFilters: [" in plan and "In(gram" in plan
    # gram_bucket IN (...) prunes partition DIRECTORIES of the stored index
    assert "PartitionFilters: [" in plan and "gram_bucket" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]


@pytest.mark.parametrize(
    "pattern,matches",
    [
        ("(?i)hello world", ["HELLO WORLD", "Hello World"]),
        ("(?im:hash) join", ["HASH join"]),
    ],
)
def test_inline_flags_bail_to_full_scan(pattern, matches):
    """Inline regex flags make extracted literals case-blind — pruning with
    them would FALSE-NEGATIVE; the extractor must claim nothing."""
    assert regex_required_literals(pattern) == []
    for m in matches:
        assert re.search(pattern, m)  # the flag really does change matching


def test_lookaround_and_noncapturing_still_extract():
    assert regex_required_literals("(?:hash|merge) join") == [" join"]
    assert regex_required_literals("hello (?=world)") == ["hello "]


def test_regex_search_with_inline_flag_exact(docs, tri):
    """End-to-end: a case-insensitive pattern must hit docs whose case
    differs from the pattern's literals (doc 2 has 'HelloWorld')."""
    got = sorted(
        r["doc_id"] for r in regex_search(docs, tri, "(?i)helloworld").collect()
    )
    want = sorted(i for i, s in DOCS if re.search("(?i)helloworld", s))
    assert got == want
    assert 2 in got, "vacuous: the case-divergent doc must match"


def test_case_insensitive_over_folded_index(docs, spark):
    """Zoekt layout: ONE lowercase-built index serves -i queries exactly
    AND keeps case-sensitive queries exact (superset candidates, raw
    verify)."""
    folded = build_trigram_index(docs, lowercase=True).cache()
    # -i finds the camelCase doc a raw search misses
    got_i = sorted(
        r["doc_id"]
        for r in substring_search(
            docs, folded, "helloworld",
            case_insensitive=True, index_lowercased=True,
        ).collect()
    )
    assert got_i == sorted(i for i, s in DOCS if "helloworld" in s.lower())
    assert 2 in got_i, "vacuous: needs the case-divergent doc"
    # case-SENSITIVE over the same folded index stays exact
    for needle in ["hello world", "HelloWorld", "hash join"]:
        got = sorted(
            r["doc_id"]
            for r in substring_search(
                docs, folded, needle, index_lowercased=True
            ).collect()
        )
        assert got == sorted(i for i, s in DOCS if needle in s), needle
    # -i over a RAW index is refused (would false-negative silently)
    import pytest as _pt

    with _pt.raises(ValueError, match="lowercase"):
        substring_search(docs, folded, "x", case_insensitive=True)
    folded.unpersist()


def test_trigram_server_matches_batch(docs, spark):
    """TrigramServer (packed blobs, shuffle-free kernel AND) returns the
    same doc sets as the batch substring path, for raw and folded modes."""
    from bliss_rs_spark.operators.trigram import TrigramServer

    folded_idx = build_trigram_index(docs, lowercase=True)
    srv = TrigramServer(
        spark, folded_idx, docs, n_doc_shards=4, index_lowercased=True
    )
    try:
        for needle in ["hello world", "hash join", "main()", "doc_id"]:
            got = srv.grep(needle)
            want = sorted(i for i, s in DOCS if needle in s)
            assert got == want, needle
        # candidates are a superset of matches and pruned vs the corpus
        cand = srv.candidates("hash join")
        assert set(cand) >= set(srv.grep("hash join"))
        assert 5 not in cand
        # -i widens to the camelCase doc
        got_i = srv.grep("helloworld", case_insensitive=True)
        assert got_i == sorted(i for i, s in DOCS if "helloworld" in s.lower())
        assert 2 in got_i
        # short needle falls back to the (cached) full scan
        assert srv.grep("x") == sorted(i for i, s in DOCS if "x" in s)
        # miss
        assert srv.grep("zzz never here") == []
        with pytest.raises(ValueError):
            TrigramServer(
                spark, folded_idx, docs, n_doc_shards=4, index_lowercased=False
            ).grep("a bc", case_insensitive=True)
    finally:
        srv.close()


def test_trigram_server_query_plan_is_shuffle_free(docs, spark):
    """Per-query plan over the cached packed frame: scan -> filter ->
    mapInPandas, no Exchange (the WandServer serving-plan property)."""
    from bliss_rs_spark.operators.trigram import TrigramServer, trigrams_of

    srv = TrigramServer(spark, build_trigram_index(docs), docs, n_doc_shards=4)
    try:
        grams = trigrams_of("hash join")
        plan = (
            srv._scan(grams)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the cached relation's stored BUILD plan (one-time pack + init
        # repartition) legitimately contains Exchanges; the per-query plan
        # above the cache must not
        query_side = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in query_side, plan[:2000]
        assert "Exchange" not in query_side, plan[:2000]
    finally:
        srv.close()


# --- hypothesis fuzz: literal-derivation soundness on arbitrary patterns ----

from hypothesis import given, settings
from hypothesis import strategies as st

_ATOMS = st.sampled_from(
    list("abcxyz_ ().|*+?^$[]{}\\dws" "0123") + ["\\.", "\\(", "\\)", "\\w", "\\s"]
)


@st.composite
def _patterns(draw):
    return "".join(draw(st.lists(_ATOMS, min_size=1, max_size=12)))


@settings(max_examples=300, deadline=None)
@given(_patterns(), st.text(alphabet="abcxyz_ ().0123", min_size=0, max_size=30))
def test_required_literals_sound_fuzz(pattern, s):
    """SOUNDNESS fuzz: for ANY pattern the walker accepts (valid or not)
    and ANY string that MATCHES it, every derived literal must be a
    substring of that string — the property that makes trigram pruning
    with the literals always safe (a violated case would be a candidate
    false negative grep could never recover)."""
    import re as _re

    try:
        rx = _re.compile(pattern)
    except _re.error:
        # invalid pattern: regex_required_literals must not crash; its
        # output is irrelevant (regex_search would fail at rlike anyway)
        regex_required_literals(pattern)
        return
    lits = regex_required_literals(pattern)
    if not lits:
        return
    if rx.search(s):
        for lit in lits:
            assert lit in s, (pattern, s, lits)


def test_substring_search_batch_matches_per_needle(docs, tri, spark):
    """Batch grep (one scan, N needles) is row-identical to N independent
    substring_search calls; unknown needles contribute nothing."""
    from bliss_rs_spark.operators.trigram import substring_search_batch

    needles = [(1, "hello world"), (2, "hash join"), (3, "zzz never here")]
    got = sorted(
        (int(r["needle_id"]), int(r["doc_id"]))
        for r in substring_search_batch(docs, tri, needles).collect()
    )
    want = sorted(
        (nid, int(r["doc_id"]))
        for nid, needle in needles
        for r in substring_search(docs, tri, needle).collect()
    )
    assert got == want and got, "vacuous batch"
    with pytest.raises(ValueError, match="trigrams"):
        substring_search_batch(docs, tri, [(1, "ab")])
    with pytest.raises(ValueError, match="empty"):
        substring_search_batch(docs, tri, [])


def test_substring_search_batch_folded_layout(docs, spark):
    from bliss_rs_spark.operators.trigram import substring_search_batch

    folded = build_trigram_index(docs, lowercase=True).cache()
    # case-SENSITIVE queries over the folded layout stay exact
    needles = [(7, "HelloWorld"), (8, "hash join")]
    got = sorted(
        (int(r["needle_id"]), int(r["doc_id"]))
        for r in substring_search_batch(
            docs, folded, needles, index_lowercased=True
        ).collect()
    )
    want = sorted(
        (nid, i) for nid, needle in needles for i, s in DOCS if needle in s
    )
    assert got == want and got
    folded.unpersist()


def test_jvm_fold_concurrent_threads(spark, monkeypatch):
    """Driver threads folding overlapping needles through a memo small
    enough to evict constantly: no KeyError, and every thread sees the
    single-threaded folds."""
    from collections import OrderedDict
    from concurrent.futures import ThreadPoolExecutor

    from bliss_rs_spark.operators import trigram

    values = ["İstanbul", "HelloWorld", "ΣΊΣΥΦΟΣ", "ǅungla", "STRASSE", "MiXeD"]
    want = {v: trigram.jvm_fold(spark, v) for v in values}
    monkeypatch.setattr(trigram, "_FOLD_MEMO", OrderedDict())
    monkeypatch.setattr(trigram, "_FOLD_MEMO_MAX", 2)

    def fold_all(t):
        seq = [values[(t + i) % len(values)] for i in range(10)]
        return [(v, trigram.jvm_fold(spark, v)) for v in seq]

    with ThreadPoolExecutor(4) as pool:
        results = [r for rs in pool.map(fold_all, range(4)) for r in rs]
    assert len(results) == 40
    assert all(got == want[v] for v, got in results)
    assert len(trigram._FOLD_MEMO) <= 2
