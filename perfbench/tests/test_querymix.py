from perfbench.querymix import ROUND, build_mix, pools, repeat_share

TEXTS = [
    "fn parseHtmlDocument buffer cursor return;\nlet rareNeedle1 = 1;",
    "def buildIndexShard(self): return value data merge sort",
    "public class mergeSortedRuns { static void stream shard bucket }",
    "func readFileSync offset length return data\nvalue cache batch commit",
    "int tokenStreamFactory writer reader config error return value",
    "struct blockMaxScore index token block delta cache return data",
    "let postingListWriter = queryPlanNode; merge score query index",
    "type doc_shard_router chan defer return value buffer cursor offset",
]
TEXTS = [t + f"\nlet rareNeedle{i} = 1;" for i, t in enumerate(TEXTS * 5)]


def test_same_seed_same_mix():
    assert build_mix(TEXTS, 7, 4) == build_mix(TEXTS, 7, 4)


def test_seeds_give_different_mixes():
    mixes = {tuple(build_mix(TEXTS, s, 4)) for s in range(5)}
    assert len(mixes) == 5


def test_popularity_profile_is_seed_independent():
    a, b = build_mix(TEXTS, 1, 6), build_mix(TEXTS, 2, 6)
    assert [(o.kind, o.qclass, o.k) for o in a] == [(o.kind, o.qclass, o.k) for o in b]
    assert repeat_share(a) == repeat_share(b)


def test_mix_is_whole_rounds_of_every_kind():
    ops = build_mix(TEXTS, 3, 2)
    assert len(ops) == 2 * len(ROUND)
    assert {o.kind for o in ops} == {"wand", "search"}


def test_texts_come_from_the_corpus():
    p = pools(TEXTS, 11)
    blob = "\n".join(TEXTS)
    assert all(c in blob for c in p["camel"])
    assert all(t in blob.lower() for t in p["hot"] + p["rare"])
