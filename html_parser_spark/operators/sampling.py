"""Deterministic corpus splitting and sampling.

The training-data staples the reference's query surface never needed but
any 100 TB corpus job does on day one: reproducible train/val/test
assignment and seeded sub-sampling.  Both are pure hash expressions —
scan → project, ZERO shuffles, stable under repartitioning, and new
documents land in the same split forever (no split table to join
against, no state to version beyond the seed string).

Cross-engine contract (CLAUDE.md): md5 is the only hash both Spark and
DuckDB evaluate bit-identically, so the bucket is the first 8 hex digits
of ``md5(seed || '|' || doc_id)`` as an unsigned 32-bit int (signed-64
safe) — Spark ``conv(substr(...), 16, 10)``, DuckDB
``('0x' || substring(...))::UBIGINT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _bucket(seed: str, modulus: int):
    key = F.concat(F.lit(f"{seed}|"), F.col("doc_id").cast("string"))
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % modulus
    )


def _bucket_sql(seed: str, modulus: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('{seed}|' || CAST(doc_id AS VARCHAR)), 1, 8))"
        f"::UBIGINT % {modulus} AS BIGINT)"
    )


# The operating point both engines read: the split boundaries and the
# seed strings that version each assignment.
TRAIN_PCT = 90
VAL_PCT = 5
SPLIT_SEED = "split-v1"
SAMPLE_RATE_BP = 1000
SAMPLE_SEED = "sample-v1"
MIX_SEED = "mix-v1"


def corpus_splits(
    spark: SparkSession, sf_dir: str, seed: str = SPLIT_SEED
) -> DataFrame:
    """Assign every document to train/val/test by hash bucket, plus the
    independent seeded Bernoulli sample flag in the same projection.

    The seed string versions the split: bump it and the whole corpus
    reshuffles; keep it and incremental ingests extend each split
    consistently.  Holdout leakage across near-duplicate documents is the
    dedup family's job (cluster keep-list first, then split).

    ``in_sample`` is :func:`sample_documents`'s exact membership
    expression (independent seed → sampling composes with splitting),
    value-oracled here so both primitives share one gate row — both are
    one md5-bucket expression over the same scan, and the DuckDB twin
    computes the identical bucket bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = _bucket(seed, 100)
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    in_sample = _bucket(SAMPLE_SEED, 10000) < SAMPLE_RATE_BP
    return docs.select(
        "doc_id",
        "source",
        b.alias("bucket"),
        split.alias("split"),
        in_sample.cast("long").alias("in_sample"),
    )


def corpus_splits_sql() -> str:
    b = _bucket_sql(SPLIT_SEED, 100)
    return f"""
    SELECT doc_id, source, {b} AS bucket,
           CASE WHEN {b} < {TRAIN_PCT} THEN 'train'
                WHEN {b} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           CAST({_bucket_sql(SAMPLE_SEED, 10000)} < {SAMPLE_RATE_BP} AS BIGINT)
               AS in_sample
    FROM documents
    """


def sample_documents(
    spark: SparkSession, sf_dir: str, rate_bp: int = SAMPLE_RATE_BP
) -> DataFrame:
    """Seeded Bernoulli sample at ``rate_bp`` basis points (1000 = 10%).

    Unlike ``DataFrame.sample`` this is deterministic across runs, Spark
    versions, and partitionings — the property a reproducible eval or
    dev-corpus build actually needs.  Projection stays narrow (ids +
    length) so the 100 TB scan prunes ``text`` entirely."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.where(_bucket(SAMPLE_SEED, 10000) < rate_bp).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


def sample_documents_sql(rate_bp: int = SAMPLE_RATE_BP) -> str:
    return f"""
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE {_bucket_sql(SAMPLE_SEED, 10000)} < {rate_bp}
    """


DEFAULT_MIX = {"src0": 10000, "src1": 5000, "src2": 2500}
DEFAULT_MIX_REST = 1000


def mix_documents(
    spark: SparkSession,
    sf_dir: str,
    rates_bp: dict[str, int] | None = None,
    default_bp: int = DEFAULT_MIX_REST,
) -> DataFrame:
    """Domain mixing: per-source Bernoulli rates (basis points) in one
    deterministic pass — the pretraining knob that up-weights curated
    sources and down-samples crawl bulk.

    The rate table is a plain CASE expression (a handful of literals),
    NOT a join: at 10^12 docs the mixing decision must stay inside the
    scan's codegen.  Same md5-bucket machinery as
    :func:`sample_documents`, independent seed, so mixing composes with
    (is independent of) the split assignment."""
    rates = DEFAULT_MIX if rates_bp is None else rates_bp
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rate = F.lit(default_bp)
    for src, bp in sorted(rates.items()):
        rate = F.when(F.col("source") == src, F.lit(bp)).otherwise(rate)
    return docs.where(_bucket(MIX_SEED, 10000) < rate).select(
        "doc_id",
        "source",
        rate.cast("long").alias("rate_bp"),
    )


def mix_documents_sql(
    rates_bp: dict[str, int] | None = None, default_bp: int = DEFAULT_MIX_REST
) -> str:
    rates = DEFAULT_MIX if rates_bp is None else rates_bp
    arms = " ".join(
        f"WHEN source = '{src}' THEN {bp}"
        for src, bp in sorted(rates.items(), reverse=True)
    )
    rate = f"CASE {arms} ELSE {default_bp} END"
    return f"""
    SELECT doc_id, source, CAST({rate} AS BIGINT) AS rate_bp
    FROM documents
    WHERE {_bucket_sql(MIX_SEED, 10000)} < {rate}
    """
