"""Table IO abstraction: Iceberg in production, parquet in the sandbox.

The north_star targets Iceberg transcripts at 10^12-turn scale; this
sandbox's PySpark 4.1.2 ships no Iceberg runtime jar (verified: empty
``pyspark/jars/*iceberg*``), so every reader/writer here goes through one
seam that uses Iceberg's SQL/DataFrame API when the catalog is
configured and falls back to parquet paths otherwise.  The Iceberg DDL
below is the production contract — partition transforms chosen so that
the engine's scan patterns prune:

- ``transcripts`` partitioned by ``bucket(512, conv_id)`` (co-locates a
  conversation's turns; 512 buckets ≈ 10^12/512 ≈ 2G turns/bucket, split
  further by file) and ``days(ts)`` (backfill windows prune by day);
- ``extracted`` mirrors the transcript bucketing so the resume anti-join
  is a bucket-local join (no shuffle of the 10^12-row output table);
- ``metrics``/``lineage`` tiny, partitioned by run day.

The corpus tables an operator reads (``documents``, ``embeddings``,
``events``, the TPC-H tables and the generated ``transcripts`` and
``media_blobs``) are located by one function, :func:`corpus_path`;
operators take them as DataFrames from :func:`read_corpus`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..fixtures import ensure_media_blobs, ensure_transcripts, sf_of

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

TRANSCRIPTS_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.transcripts (
  conv_id  STRING,
  turn_idx INT,
  role     STRING,
  text     STRING,
  tool     STRING,
  ts       TIMESTAMP
) USING iceberg
PARTITIONED BY (bucket(512, conv_id), days(ts))
TBLPROPERTIES (
  'write.target-file-size-bytes' = '134217728',
  'write.distribution-mode' = 'hash'
)
"""

EXTRACTED_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.extracted (
  conv_id       STRING,
  turn_idx      INT,
  main_text     STRING,
  spans         ARRAY<STRUCT<start: INT, end: INT>>,
  err_count     INT,
  parse_status  STRING,
  n_tokens      INT,
  n_blocks      INT,
  n_kept_blocks INT,
  run_id        STRING
) USING iceberg
PARTITIONED BY (bucket(512, conv_id))
TBLPROPERTIES ('write.target-file-size-bytes' = '134217728')
"""

# tables generated on first use, cached at the scale of the directory
_GENERATED = {"transcripts": ensure_transcripts, "media_blobs": ensure_media_blobs}


def corpus_path(sf_dir: str, name: str) -> str:
    """Location of corpus table ``name`` for the testdata directory
    ``sf_dir``: a generated table resolves to its cache at the
    directory's scale, every other table is ``<sf_dir>/<name>.parquet``."""
    ensure = _GENERATED.get(name)
    return ensure(sf_of(sf_dir)) if ensure else f"{sf_dir}/{name}.parquet"


def read_corpus(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Corpus table ``name`` of ``sf_dir`` as a DataFrame."""
    return spark.read.parquet(corpus_path(sf_dir, name))


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when an Iceberg catalog is wired into this session."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        return impl is not None and "iceberg" in str(impl).lower()
    except Exception:
        return False


def read_table(
    spark: SparkSession, ref: str, options: dict | None = None
) -> DataFrame:
    """``ref`` is either an Iceberg table name (``db.transcripts``) when
    the catalog is configured, or a parquet path.  ``options`` apply to
    the parquet fallback (e.g. mergeSchema for schema-evolved outputs);
    Iceberg handles evolution natively."""
    if "/" not in ref and iceberg_available(spark):
        return spark.read.table(ref)
    reader = spark.read
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(ref)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Read a transcripts table in any supported landing format (by path
    suffix: ``.json``/``.jsonl``/``.ndjson``, ``.csv``, else parquet) with
    the FIXED input_hint schema — never schema inference (a 10^12-row
    JSON inference pass is a full extra scan, and drifting inferred types
    would silently change downstream semantics)."""
    reader = spark.read.schema(TRANSCRIPT_SCHEMA)
    if path.endswith((".json", ".jsonl", ".ndjson")):
        return reader.json(path)
    if path.endswith(".csv"):
        # NB: CSV cannot round-trip NUL bytes (the parser drops them) —
        # use parquet/JSON landings for corpora that may contain \x00
        return (
            reader.option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(path)
        )
    return reader.parquet(path)


def append_table(df: DataFrame, ref: str) -> None:
    """Append with job-commit atomicity: Iceberg snapshot commit when
    available, parquet job-commit protocol otherwise (both expose
    all-or-nothing visibility per write — the property the resume
    anti-join in operators/resume.py relies on)."""
    if "/" not in ref and iceberg_available(df.sparkSession):
        df.writeTo(ref).append()
    else:
        df.write.mode("append").parquet(ref)

