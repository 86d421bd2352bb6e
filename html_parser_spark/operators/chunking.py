"""Passage chunking: sliding token windows over documents.

The staple between a cleaned corpus and a training/RAG pipeline:
fixed-size whitespace-token windows with overlap, stable
``(doc_id, chunk_idx)`` identity, one output row per chunk.

Scale shape: the window arithmetic is a LOCAL higher-order expression
(sequence → transform → explode) — no shuffle; output rows inherit the
scan's partitioning, so a downstream repartition is the consumer's
choice, not this operator's.  The explode multiplies rows, not bytes:
each chunk materializes only its own slice (plus the overlap), so the
output is ≈ input × (1 + overlap/stride) bytes no matter how long the
documents are — long-doc skew splits itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_CHUNK = 128
DEFAULT_OVERLAP = 32


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = DEFAULT_CHUNK,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """One row per ``chunk_tokens``-token window at stride
    ``chunk_tokens - overlap`` over the whitespace/case-normalized text
    (the dedup normalizer, so chunk identity is stable across the
    family).  The final window clamps; every document yields ≥ 1 chunk
    (an empty doc yields one empty chunk — keeps the chunk table
    left-total over documents)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    from .dedup import _norm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(_norm(), " ")
    n = F.size(toks)
    n_starts = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.floor(
            (n - F.lit(chunk_tokens) + F.lit(stride - 1)).cast("double")
            / F.lit(float(stride))
        ).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(toks, i * stride + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - i * stride)
            .cast("long")
            .alias("chunk_tokens"),
        ),
    )
    return docs.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
    )


def chunk_documents_sql(
    chunk_tokens: int = DEFAULT_CHUNK, overlap: int = DEFAULT_OVERLAP
) -> str:
    from .dedup import NORM_SQL

    stride = chunk_tokens - overlap
    return f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= {chunk_tokens} THEN 1
                  ELSE ((len(toks) - {chunk_tokens} + {stride - 1}) // {stride}) + 1
             END AS n_starts
      FROM t),
    c AS (
      SELECT doc_id, unnest(list_transform(range(0, n_starts),
               i -> struct_pack(
                 chunk_idx := i,
                 chunk_text := array_to_string(
                   list_slice(toks, i*{stride} + 1, i*{stride} + {chunk_tokens}), ' '),
                 chunk_tokens := least({chunk_tokens}, n - i*{stride})))) AS u
      FROM s)
    SELECT doc_id,
           CAST(u.chunk_idx AS BIGINT) AS chunk_idx,
           u.chunk_text AS chunk_text,
           CAST(u.chunk_tokens AS BIGINT) AS chunk_tokens
    FROM c
    """


# ---------------------------------------------------------------------------
# Sequence packing: the stage AFTER chunking/cleaning — concatenate the
# corpus token stream and cut it into fixed-length training sequences.

DEFAULT_SEQ_LEN = 2048
DEFAULT_PACK_GROUPS = 8
PACK_SEED = "pack-v1"


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = DEFAULT_SEQ_LEN,
    n_groups: int = DEFAULT_PACK_GROUPS,
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in a
    deterministic order and the token stream is cut every ``seq_len``
    tokens; documents cross sequence boundaries (no padding except the
    final sequence of each group).  One output row per document-piece ×
    sequence intersection: ``(group_id, seq_id, doc_id, doc_tok_start,
    seq_tok_start, piece_tokens)`` — exactly what a training loader needs
    to reassemble sequences and mask cross-document attention.

    Scale shape: a single global token stream would serialize the prefix
    sum, so the corpus is sharded into ``n_groups`` md5 groups (the
    sampling family's seeded bucket — stable under repartitioning and
    incremental ingest) and packed per shard.  The window is partitioned
    by group: one shuffle, and each shard's running sum is a single-task
    scan of (doc_id, n_tokens) pairs ONLY — text never enters the plan,
    so a shard task at 100 TB handles ~1e8 16-byte rows, not documents.
    Scale ``n_groups`` so corpus_docs / n_groups ≈ 1e7–1e8; shard choice
    only moves which sequences get which documents, never validity.
    Token counts use the dedup family's normalizer so packing, chunking
    and dedup agree on token identity.
    """
    from pyspark.sql import Window

    from .sampling import _bucket

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sized = docs.select(
        "doc_id",
        _bucket(PACK_SEED, n_groups).alias("group_id"),
        F.size(F.split(_doc_norm(), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("group_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = sized.select(
        "group_id",
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum"),
    )
    return cum.select(
        "group_id",
        "doc_id",
        "n_tokens",
        "cum",
        F.explode(
            F.sequence(
                F.expr(f"cum DIV {seq_len}"),
                F.expr(f"(cum + n_tokens - 1) DIV {seq_len}"),
            )
        ).alias("seq_id"),
    ).select(
        "group_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (F.greatest("cum", F.expr(f"seq_id * {seq_len}")) - F.col("cum"))
        .cast("long")
        .alias("doc_tok_start"),
        (
            F.greatest("cum", F.expr(f"seq_id * {seq_len}"))
            - F.expr(f"seq_id * {seq_len}")
        )
        .cast("long")
        .alias("seq_tok_start"),
        (
            F.least(
                F.col("cum") + F.col("n_tokens"),
                F.expr(f"(seq_id + 1) * {seq_len}"),
            )
            - F.greatest("cum", F.expr(f"seq_id * {seq_len}"))
        )
        .cast("long")
        .alias("piece_tokens"),
    )


def _doc_norm():
    from .dedup import _norm

    return _norm()


def pack_sequences_sql(
    seq_len: int = DEFAULT_SEQ_LEN, n_groups: int = DEFAULT_PACK_GROUPS
) -> str:
    from .dedup import NORM_SQL
    from .sampling import _bucket_sql

    b = _bucket_sql(PACK_SEED, n_groups)
    return f"""
    WITH t AS (
      SELECT doc_id, {b} AS group_id,
             len(string_split({NORM_SQL}, ' ')) AS n_tokens
      FROM documents),
    c AS (
      SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY group_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum
      FROM t),
    p AS (
      SELECT *, unnest(range(cum // {seq_len},
                             (cum + n_tokens - 1) // {seq_len} + 1)) AS seq_id
      FROM c)
    SELECT group_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           doc_id,
           CAST(greatest(cum, seq_id * {seq_len}) - cum AS BIGINT)
             AS doc_tok_start,
           CAST(greatest(cum, seq_id * {seq_len}) - seq_id * {seq_len} AS BIGINT)
             AS seq_tok_start,
           CAST(least(cum + n_tokens, (seq_id + 1) * {seq_len})
                - greatest(cum, seq_id * {seq_len}) AS BIGINT) AS piece_tokens
    FROM p
    """
