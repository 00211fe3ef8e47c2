from perfbench.workloads import topk_matches


def test_rank_identical_lists_match():
    assert topk_matches([(1, 2.0), (2, 1.0)], [(1, 2.0), (2, 1.0 + 1e-9)])


def test_score_or_order_mismatch_fails():
    assert not topk_matches([(1, 2.0), (2, 1.0)], [(1, 2.0), (2, 1.1)])
    assert not topk_matches([(2, 2.0), (1, 1.0)], [(1, 2.0), (2, 1.0)])
    assert not topk_matches([(1, 2.0)], [(1, 2.0), (2, 1.0)])


def test_ties_may_reorder_and_cut_differently():
    assert topk_matches([(2, 2.0), (1, 2.0), (3, 1.0)], [(1, 2.0), (2, 2.0), (3, 1.0)])
    assert topk_matches([(1, 2.0), (4, 1.0)], [(1, 2.0), (3, 1.0)])
    assert not topk_matches([(1, 2.0), (4, 2.0), (3, 1.0)], [(1, 2.0), (5, 2.0), (3, 1.0)])
