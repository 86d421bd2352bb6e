"""Spark surface for hyperlink harvesting (the corpus link graph).

Same physical shape as the flagship extraction (`pipeline.py`): pruned
scan → the stage's salted exchange → ordered Arrow mapInPandas emitting
FLAT columnar link rows.  One shuffle total for 10^12 turns; the flatten
is local, so long link-dense turns fan out without a second exchange.
Output is link-graph-shaped: one row per (turn, link).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.links import extract_links
from .pipeline import salted_exchange


def run_link_extraction(
    df: DataFrame, *, num_partitions: int | None = None
) -> DataFrame:
    """transcripts DataFrame → (conv_id, turn_idx, link_idx, href,
    anchor_text, src_start, src_end), one row per harvested link."""
    # flat mapInPandas instead of array<struct> UDF + explode: building a
    # per-row Python list of link tuples makes Arrow walk an object graph
    # per turn; emitting flat columnar batches (one list per COLUMN)
    # converts at array speed and drops the JVM Generate entirely.
    def _flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "conv_id", "turn_idx", "link_idx", "href", "anchor_text",
            "src_start", "src_end",
        )
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in cols}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if text is None:
                    continue
                for r in extract_links(text):
                    rows["conv_id"].append(conv_id)
                    rows["turn_idx"].append(turn_idx)
                    rows["link_idx"].append(r["link_idx"])
                    rows["href"].append(r["href"])
                    rows["anchor_text"].append(r["anchor_text"])
                    rows["src_start"].append(r["src_start"])
                    rows["src_end"].append(r["src_end"])
            yield pd.DataFrame(rows)

    return salted_exchange(df, num_partitions).mapInPandas(
        _flat,
        schema=(
            "conv_id string, turn_idx int, link_idx int, href string, "
            "anchor_text string, src_start int, src_end int"
        ),
    )
