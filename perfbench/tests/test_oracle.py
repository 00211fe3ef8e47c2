import math

import pytest

from perfbench.oracle import Oracle

DOCS = {1: "merge sort merge sort", 2: "mergeSort buffer", 3: "buffer cursor"}


def test_bm25_matches_formula_with_pinned_avgdl():
    o = Oracle(DOCS, avgdl=2.5)
    (doc, score), = o.bm25_topk("cursor", 5)
    idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
    norm = 1.0 - 0.75 + 0.75 * 2 / 2.5
    assert doc == 3
    assert score == pytest.approx(idf * 2.2 / (1 + 1.2 * norm))
