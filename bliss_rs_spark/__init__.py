"""bliss_rs_spark — a PySpark-native inverted-index build + BM25 query engine.

Structural reference: Polochon-street/bliss-rs (/root/reference, read-only).
bliss-rs batch-analyzes a corpus of audio files into fixed-length feature rows,
persists them in an incremental versioned SQLite store, and answers top-k
nearest queries (see SURVEY.md).  This package re-expresses that shape,
Spark-first, for full-text search over source code:

- corpus analysis pipeline  -> code-aware tokenization (vectorized pandas UDF)
- incremental persistent index -> posting lists + stats on Parquet/Iceberg,
  manifest-checkpointed, anti-join resumable
- top-k query engine        -> BM25(k1=1.2, b=0.75) exhaustive scorer and a
  block-max WAND pruned scorer over compressed doc-sharded postings

Nothing here is a port of bliss-rs's Rust internals; parity citations in
docstrings point at the reference behavior each component mirrors.
"""

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.session import keep_zip_directories

# every Python worker that unpickles one of our kernels imports this package;
# from its next task on, it stops re-reading pyspark.zip's directory per task
keep_zip_directories()

__version__ = "0.1.0"

__all__ = ["IndexConfig", "__version__"]
