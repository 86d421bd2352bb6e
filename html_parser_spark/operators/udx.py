"""Remaining user-defined-function surfaces: UDTF, grouped-agg pandas
UDAF, and grouped-map ``applyInPandas``.

The engine's hot path never needs these (the flagship is one SCALAR_ITER
pandas UDF), but they complete the UDF/UDAF/UDTF checklist with
operators that are genuinely useful to a transcript pipeline:

- ``TokenizeUDTF``      — lateral view over per-turn token streams (the
  table-function form of the stage's ``"tokens"`` column + explode,
  built from the same ``display._token_rows``).
- ``median_udaf``       — GROUPED_AGG pandas UDAF (Arrow-batched numpy
  median per group; exactly matches DuckDB ``median`` — linear
  interpolation — so it is DuckDB-oracled).
- ``conversation_stats``— grouped-map ``applyInPandas``: whole-group
  pandas frame in, one summary row out (per-conversation rollup with
  logic that needs the full group in memory — e.g. cross-turn text
  dedup within a conversation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType, LongType


@udtf(returnType="pos: int, kind: string, name: string, data: string")
class TokenizeUDTF:
    """One output row per token of the input turn text (Python UDTF)."""

    def eval(self, text: str):  # noqa: D102
        from ..functions.display import _token_rows
        from ..functions.tokenizer import tokenize

        for pos, t in enumerate(_token_rows(tokenize(text or "")[0])):
            yield pos, t[0], t[1], t[2]


@pandas_udf(DoubleType())
def median_udaf(v: pd.Series) -> float:
    """Exact median as a grouped-agg pandas UDAF (numpy linear
    interpolation == DuckDB ``median`` on doubles)."""
    # shipped by value: the import makes its worker skip the per-task
    # archive re-read (html_parser_spark/__init__.py)
    import html_parser_spark  # noqa: F401

    return float(v.median())


@pandas_udf(LongType())
def count_udaf(v: pd.Series) -> int:
    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg
    import html_parser_spark  # noqa: F401  (as in median_udaf)

    return int(len(v))


def user_value_median(events: DataFrame) -> DataFrame:
    """Per-event-type median event value via the pandas UDAF."""
    return (
        events.groupBy("event_type")
        .agg(
            count_udaf("value").alias("n_events"),
            median_udaf("value").alias("median_value"),
        )
        .orderBy("event_type")
    )


def user_value_median_sql() -> str:
    return """
    SELECT event_type, count(*) AS n_events,
           median(value) AS median_value
    FROM events GROUP BY event_type ORDER BY event_type
    """


CONV_STATS_SCHEMA = (
    "conv_id string, n_turns long, n_roles long, total_chars long, "
    "n_distinct_texts long"
)


def _conv_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    # NOT pandas .nunique(): its all-string fast path hashes via
    # NUL-terminated C strings, silently merging distinct texts that share
    # a prefix up to an embedded \x00 (transcript texts contain NULs).
    # Python sets hash the full string.
    return pd.DataFrame(
        [
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "n_turns": len(pdf),
                "n_roles": len(set(pdf["role"])),
                "total_chars": int(pdf["text"].str.len().sum()),
                "n_distinct_texts": len(set(pdf["text"])),
            }
        ]
    )


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Grouped-map applyInPandas: per-conversation rollup needing the
    whole group (within-conversation text dedup counting).  At scale the
    group key (conv_id) bounds memory — the largest conversation must
    fit one executor, which the 64-turn fixture cap (and a real
    pipeline's turn cap) guarantees."""
    return transcripts.select("conv_id", "turn_idx", "role", "text").groupBy(
        "conv_id"
    ).applyInPandas(_conv_stats, schema=CONV_STATS_SCHEMA)
