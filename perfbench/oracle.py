"""Driver-side BM25 top-k for the benchmark's checks, computed in plain
Python from the live corpus.  It shares only the analyzer's
``tokenize_text`` with the engine, so a wrong answer from a Spark path
cannot also be the expected one."""

from __future__ import annotations

import math
from collections import Counter

from bliss_rs_spark.functions.tokenizer import tokenize_text


class Oracle:
    def __init__(self, docs: dict[int, str], avgdl: float, k1: float = 1.2,
                 b: float = 0.75):
        """``docs`` maps doc_id -> content of every live doc; ``avgdl`` is
        the store's pinned epoch value (updates keep it fixed)."""
        self.docs = docs
        self.tokens = {d: tokenize_text(t) for d, t in docs.items()}
        self.tf = {d: Counter(toks) for d, toks in self.tokens.items()}
        self.df: Counter = Counter()
        for counts in self.tf.values():
            self.df.update(counts.keys())
        self.avgdl, self.k1, self.b = avgdl, k1, b

    def _idf(self, term: str) -> float:
        n, df = len(self.docs), self.df[term]
        return math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def bm25_topk(self, query: str, k: int) -> list[tuple[int, float]]:
        terms = sorted(set(tokenize_text(query)))
        scored = []
        for d, counts in self.tf.items():
            norm = 1.0 - self.b + self.b * len(self.tokens[d]) / self.avgdl
            s = sum(
                self._idf(t) * counts[t] * (self.k1 + 1.0) / (counts[t] + self.k1 * norm)
                for t in terms if counts[t]
            )
            if s > 0.0:
                scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]
