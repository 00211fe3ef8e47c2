"""Engine configuration, persisted as JSON next to the index.

Reference parity: bliss-rs persists a ``BaseConfig`` JSON (paths, analysis
options incl. a features version and core count, and a serialized weight
matrix) next to its SQLite store (/root/reference/src/library.rs:263-281,
write at :253-258).  Our analogue carries the BM25 parameters, the analyzer
version (the ``FeaturesVersion`` analogue, /root/reference/src/lib.rs:151-160),
and the physical layout knobs (shards, buckets, block size, salting policy).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass
class IndexConfig:
    # BM25 parameters (Robertson/Spärck Jones; public literature).
    k1: float = 1.2
    b: float = 0.75

    # Version stamps. ``analyzer_version`` bumps when the tokenizer spec
    # changes (any change invalidates every posting, exactly like bliss-rs's
    # FeaturesVersion invalidates analyses); ``index_format_version`` bumps
    # when the physical layout changes.
    analyzer_version: int = 1
    index_format_version: int = 1

    # Physical layout.  ``n_doc_shards`` doc-hash shards hold the packed
    # (compressed) postings used by the WAND query path: each shard owns every
    # term's postings for its doc subset, so top-k is shard-local + exact
    # merge.  ``n_term_buckets`` bucket the flat postings table for build-side
    # stats and query-time partition pruning of the exhaustive path.
    n_doc_shards: int = 32
    n_term_buckets: int = 32
    block_size: int = 128  # postings per block-max block

    # Ordinal doc-id compression: posting blocks store shard-local ordinals
    # (index into the shard's sorted doc_id map) instead of raw hashed
    # doc_ids.  Random 64-bit ids delta-encode to ~9 varbyte bytes per gap;
    # ordinals to ~1-2 — the dominant size term for long posting lists.
    ordinal_docids: bool = True

    # Skew policy: a term whose df exceeds ``hot_term_df_ratio * N`` is salted
    # into ``n_salts`` sub-groups during posting-list construction and merged
    # in a second stage (SURVEY.md §4.1).
    hot_term_df_ratio: float = 0.02
    n_salts: int = 8

    # Tiered maintenance ladder (the Lucene merge-policy analogue), applied
    # by plans.lifecycle.maintain() after every update: fold packed units
    # into one base when segment-mode updates have stacked more than
    # ``compact_max_units`` of them; full checkpoint rebuild (segments
    # folded, tombstones cleared, avgdl re-pinned) when tombstones exceed
    # ``compact_max_tombstone_ratio`` x n_docs.  <= 0 disables a rung.
    compact_max_units: int = 8
    compact_max_tombstone_ratio: float = 0.25
    # Absolute ceiling beside the ratio: at 10^9 docs a 0.25 ratio alone
    # would let 2.5e8 tombstones accrete before compaction; the absolute
    # trigger bounds dead-set frames and compaction debt regardless of
    # corpus size.  <= 0 disables (the ratio rung still applies).
    compact_max_tombstones: int = 10_000_000

    # Persist positional postings (term, doc_id, positions) alongside the
    # bag-of-words index so the store can answer exact phrase queries.
    # Off by default: positions roughly double index size.
    store_positions: bool = False

    # Persist trigram presence postings (gram, doc_id) per segment so the
    # store can answer exact substring / regex (grep-tier) queries.  Off by
    # default for the same size reason; rides the segment lifecycle
    # (tombstones, compaction, migration) like every other segment frame.
    store_trigrams: bool = False

    # Tokenizer options. ``lang_tagging`` prefixes each term with "<lang>:"
    # (the graft spec's lang-tagged terms); the plain variant is the default
    # because it is mirrorable in ANSI SQL for the DuckDB oracle.
    lang_tagging: bool = False

    extra: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "IndexConfig":
        d = json.loads(s)
        known = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in d.items() if k in known})

    def write(self, path: str) -> None:
        """Persist config as pretty JSON (ref: AppConfigTrait::write,
        /root/reference/src/library.rs:253-258)."""
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def read(cls, path: str) -> "IndexConfig":
        with open(path) as f:
            return cls.from_json(f.read())
