"""Text-analysis functions for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

Everything here that sits on the query's hot path is a pure JVM column
expression (whole-stage codegen; no Python).  Each expression the driver
oracle replays has an exact DuckDB mirror.  The reference's analogue
is its descriptor set — fixed, versioned per-row statistics
(/root/reference/src/song/mod.rs:102-156) computed by pure functions of the
canonical input.

Shared primitive: ``md5_int64`` — a deterministic 60-bit integer hash of a
string computed IDENTICALLY by Spark (`conv(substr(md5(x),1,15),16,10)`) and
DuckDB (`('0x'||substr(md5(x),1,15))::bigint`).  All hash-based operators
(minhash, simhash, fingerprints) build on it so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bliss_rs_spark.functions.tokenizer import tokenize_sql_duckdb, tokenize_sql_spark

# --- shared hash primitive ---------------------------------------------------

def md5_int64_spark(expr: str) -> str:
    """Spark-SQL: 60-bit non-negative int64 from a string (md5 prefix)."""
    return f"cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"


def md5_int64_duckdb(expr: str) -> str:
    """DuckDB mirror of md5_int64_spark (md5 hex is identical in both)."""
    return f"('0x' || substr(md5({expr}), 1, 15))::bigint"


# --- stopword lists (tiny, deterministic) ------------------------------------

STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "it", "for"]


def _sw_list_sql() -> str:
    return "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


# --- quality / token stats: Spark (JVM) exprs + DuckDB mirrors ----------------

def token_array_spark(col: str = "content") -> str:
    return tokenize_sql_spark(col)


def quality_exprs_spark(col: str = "content") -> dict[str, str]:
    """Quality metrics as Spark-SQL strings over a text column.

    n_tokens, distinct token ratio, stopword ratio, mean token length,
    non-alnum (punct/space) character ratio — the classic cheap quality
    signals for corpus filtering.  All JVM-side.
    """
    toks = token_array_spark(col)
    sw = _sw_list_sql()
    return {
        "n_chars": f"length({col})",
        "n_tokens": f"size({toks})",
        "n_distinct_tokens": f"size(array_distinct({toks}))",
        "stopword_ratio": (
            f"case when size({toks}) = 0 then 0.0 else "
            f"cast(size(filter({toks}, t -> t in {sw})) as double) / size({toks}) end"
        ),
        "mean_token_len": (
            f"case when size({toks}) = 0 then 0.0 else "
            f"cast(aggregate({toks}, 0, (acc, t) -> acc + length(t)) as double) / size({toks}) end"
        ),
        "alnum_ratio": (
            f"case when length({col}) = 0 then 0.0 else "
            f"cast(length(regexp_replace({col}, '[^a-zA-Z0-9]', '')) as double) / length({col}) end"
        ),
    }


def quality_exprs_duckdb(col: str = "text") -> dict[str, str]:
    toks = tokenize_sql_duckdb(col)
    sw = _sw_list_sql()
    return {
        "n_chars": f"length({col})",
        "n_tokens": f"len({toks})",
        "n_distinct_tokens": f"len(list_distinct({toks}))",
        "stopword_ratio": (
            f"case when len({toks}) = 0 then 0.0 else "
            f"len(list_filter({toks}, t -> t in {sw}))::double / len({toks}) end"
        ),
        "mean_token_len": (
            f"case when len({toks}) = 0 then 0.0 else "
            f"list_sum(list_transform({toks}, t -> length(t)))::double / len({toks}) end"
        ),
        "alnum_ratio": (
            f"case when length({col}) = 0 then 0.0 else "
            f"length(regexp_replace({col}, '[^a-zA-Z0-9]', '', 'g'))::double / length({col}) end"
        ),
    }


# --- BPE-style pre-tokenizer counts -------------------------------------------
#
# The GPT-2-family pre-tokenizer split, simplified to constructs both regex
# engines (Java on the Spark side, RE2 in DuckDB) implement identically:
# contraction suffixes, space-prefixed letter runs, space-prefixed digit
# runs, space-prefixed punctuation runs, whitespace runs.  Both engines use
# leftmost-first alternation, so the match streams are identical; the count
# drops pure-whitespace matches (GPT-style tokenizers fold the leading
# space into the following token).  This is the cheap "how many LLM tokens
# is this document" budgeting signal — counting, not encoding (no merges).

_BPE_PATTERN = (
    "''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r]+|[ \\t\\n\\r]+"
)


def bpe_token_count_spark(col: str = "content") -> str:
    """Spark-SQL: count of BPE-pre-tokenizer pieces (whitespace runs
    excluded).  Pure JVM regexp_extract_all + filter."""
    return (
        f"size(filter(regexp_extract_all({col}, '{_BPE_PATTERN}', 0), "
        "x -> x not rlike '^[ \\t\\n\\r]+$'))"
    )


def bpe_token_count_duckdb(col: str = "text") -> str:
    return (
        f"len(list_filter(regexp_extract_all({col}, '{_BPE_PATTERN}'), "
        "x -> not regexp_matches(x, '^[ \\t\\n\\r]+$')))"
    )


# --- shingles (word n-grams of the token stream) ------------------------------

def shingles_spark(col: str = "content", n: int = 3) -> str:
    """Spark-SQL: array of word n-gram shingle strings (distinct).

    The single-element ``transform(array(toks), t -> ...)`` wrapper binds the
    token array to a lambda variable so tokenization is evaluated once, not
    once per shingle."""
    toks = token_array_spark(col)
    parts = ", ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"array_distinct(flatten(transform(array({toks}), t -> "
        f"case when size(t) < {n} then array() else "
        f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {parts})) end)))"
    )


# --- document fingerprint ------------------------------------------------------

def fingerprint_spark(col: str = "content") -> str:
    """Normalized-content fingerprint: md5 of the canonical token stream.
    Catches duplicates that differ only in whitespace/case/punctuation —
    the cheap tier of near-dup detection."""
    toks = token_array_spark(col)
    return f"md5(concat_ws(' ', {toks}))"


# --- language ID (stopword-profile heuristic) ---------------------------------

# Minimal per-language function-word profiles (public linguistic knowledge).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "it", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "los", "que", "de", "es", "en", "un", "una", "por"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
}


def lang_id_exprs_spark(col: str = "content") -> tuple[list[str], str]:
    """Per-language hit-ratio columns + argmax language expression (ties
    broken by profile order via strictly-greater comparison chain)."""
    toks = token_array_spark(col)
    score_cols = []
    for lang, words in LANG_PROFILES.items():
        lst = "(" + ", ".join(f"'{w}'" for w in words) + ")"
        score_cols.append(
            f"case when size({toks}) = 0 then 0.0 else "
            f"cast(size(filter({toks}, t -> t in {lst})) as double) / size({toks}) end"
            f" as score_{lang}"
        )
    langs = list(LANG_PROFILES)
    # greatest-of chain: first language in profile order wins ties
    conds = []
    for lang in langs:
        others = [f"score_{o} <= score_{lang}" for o in langs if o != lang]
        prior = [f"score_{p} < score_{lang}" for p in langs[: langs.index(lang)]]
        conds.append(
            "when " + " and ".join(others + prior) + f" then '{lang}'"
        )
    pick = "case " + " ".join(conds) + f" else '{langs[0]}' end"
    return score_cols, pick


def lang_id_exprs_duckdb(col: str = "text") -> tuple[list[str], str]:
    toks = tokenize_sql_duckdb(col)
    score_cols = []
    for lang, words in LANG_PROFILES.items():
        lst = "(" + ", ".join(f"'{w}'" for w in words) + ")"
        score_cols.append(
            f"case when len({toks}) = 0 then 0.0 else "
            f"len(list_filter({toks}, t -> t in {lst}))::double / len({toks}) end"
            f" as score_{lang}"
        )
    langs = list(LANG_PROFILES)
    conds = []
    for lang in langs:
        others = [f"score_{o} <= score_{lang}" for o in langs if o != lang]
        prior = [f"score_{p} < score_{lang}" for p in langs[: langs.index(lang)]]
        conds.append("when " + " and ".join(others + prior) + f" then '{lang}'")
    pick = "case " + " ".join(conds) + f" else '{langs[0]}' end"
    return score_cols, pick


def with_quality(df: DataFrame, content_col: str = "content") -> DataFrame:
    """DataFrame helper: append all quality columns (JVM-side)."""
    out = df
    for name, expr in quality_exprs_spark(content_col).items():
        out = out.withColumn(name, F.expr(expr))
    return out
