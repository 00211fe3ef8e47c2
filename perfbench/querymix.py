"""Seeded query mix, sampled from the generated corpus.

A mix is a repetition of one fixed ROUND of slots, each an (operation,
query class, k).  The workload seed picks every class's pool of query
texts from the corpus.  Which pool entry a slot uses follows a Zipf-like
rank sequence drawn from a constant seed, so every workload seed has the
same popularity profile (the same positions repeat an earlier text) with
different texts, and the share of repeated texts is the same for every
seed at a given run length.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass

from bliss_rs_spark.functions.tokenizer import tokenize_text

# (operation, query class, k)
ROUND = (
    ("wand", "hot", 10),
    ("wand", "camel", 10),
    ("search", "grammar", 10),
    ("wand", "rare", 100),
    ("wand", "multi", 100),
)
POOL_SIZE = 3
ZIPF_S = 1.1
# the popularity profile is part of the workload definition, not the seed
_RANK_SEED = 20261017

_CAMEL = re.compile(r"\b[a-z]+(?:[A-Z][a-z0-9]+)+\b")
_LANGS = ("rust", "python", "java", "go", "c")


@dataclass(frozen=True)
class Op:
    kind: str  # wand | search
    qclass: str
    text: str
    k: int


def zipf_ranks(n: int, pool: int, s: float = ZIPF_S, seed: int = _RANK_SEED) -> list[int]:
    rng = random.Random(seed)
    weights = [1.0 / (r + 1) ** s for r in range(pool)]
    return rng.choices(range(pool), weights=weights, k=n)


def _pick(rng: random.Random, items: list, n: int) -> list:
    items = sorted(set(items))
    if not items:
        raise ValueError("corpus has no candidates for a query class")
    return rng.sample(items, min(n, len(items)))


def pools(texts: list[str], seed: int, size: int = POOL_SIZE) -> dict[str, list[str]]:
    """Per-class pools of query texts for one seed."""
    rng = random.Random(seed)
    df: Counter = Counter()
    for t in texts:
        df.update(set(tokenize_text(t)))
    by_df = sorted(df, key=lambda t: (-df[t], t))
    n = len(texts)
    hot = by_df[:12]
    rare = [t for t in by_df if df[t] <= 3]
    mid = [t for t in by_df if 0.02 * n <= df[t] <= 0.3 * n] or by_df[12:40]
    camel = [m for t in texts for m in _CAMEL.findall(t)]
    out = {
        "hot": _pick(rng, hot, size),
        "rare": _pick(rng, rare, size),
        "camel": _pick(rng, camel, size),
        "multi": [" ".join(_pick(rng, mid, 3)) for _ in range(size)],
    }
    # the grammar (must/should, must-not, prefix, fuzzy, field filter) is
    # fixed per pool rank, so the popularity profile also fixes the grammar
    # mix; phrases need a positional store, which this benchmark does not
    # build
    a, b, c, d = _pick(rng, mid, 4)
    h = _pick(rng, hot, 1)[0]
    templates = [
        f"+{a} {b}",
        f"{d} -{h}",
        f"{a[:3]}* +{b}",
        f"{c}~1 {d}",
        f"+{b} lang:{rng.choice(_LANGS)}",
    ]
    out["grammar"] = templates[:size]
    return out


def build_mix(texts: list[str], seed: int, n_rounds: int) -> list[Op]:
    """The first ``n_rounds`` rounds of the seed's query sequence."""
    pool = pools(texts, seed)
    n_slots = {c: sum(1 for _, q, _ in ROUND if q == c) * n_rounds for c in pool}
    ranks = {c: zipf_ranks(n_slots[c], len(pool[c])) for c in pool}
    used: Counter = Counter()
    ops = []
    for _ in range(n_rounds):
        for kind, qclass, k in ROUND:
            text = pool[qclass][ranks[qclass][used[qclass]]]
            used[qclass] += 1
            ops.append(Op(kind, qclass, text, k))
    return ops


def repeat_share(ops: list[Op]) -> float:
    """Share of ops whose (kind, text, k) appeared earlier in the sequence."""
    if not ops:
        return 0.0
    seen = set()
    repeats = 0
    for op in ops:
        key = (op.kind, op.text, op.k)
        repeats += key in seen
        seen.add(key)
    return repeats / len(ops)
