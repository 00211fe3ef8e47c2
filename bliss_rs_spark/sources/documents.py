"""Document-corpus source abstraction.

The production target is an Iceberg table (BASELINE.json input_hint); this
image has no Iceberg jars, so the loader tries the Iceberg reader and falls
back to plain parquet — the Decoder-trait move of the reference
(/root/reference/src/song/decoder.rs:115-129): any source producing rows of
the canonical shape feeds the same pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

REQUIRED = ["repo", "path", "commit", "lang", "content"]


def load_documents(spark: SparkSession, source: str, fmt: str | None = None) -> DataFrame:
    """Load a documents table from an Iceberg table name or a parquet path.

    fmt: "iceberg" | "parquet" | None (auto: iceberg if available and the
    source looks like a table identifier, else parquet).
    """
    if fmt == "iceberg" or (fmt is None and "/" not in source):
        try:
            df = spark.read.format("iceberg").load(source)
            return _validate(df)
        except Exception:
            if fmt == "iceberg":
                raise
    df = spark.read.parquet(source)
    return _validate(df)


def _validate(df: DataFrame) -> DataFrame:
    missing = [c for c in REQUIRED if c not in df.columns]
    if missing:
        raise ValueError(
            f"documents source missing columns {missing}; need {REQUIRED}"
        )
    return df.select(*REQUIRED, *[c for c in df.columns if c not in REQUIRED])
