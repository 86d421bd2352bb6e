"""The flagship operator: transcripts table → extracted table.

Spark-first design (SURVEY.md §3.4): the whole job is scan → salted
repartition → sortWithinPartitions → one vectorized pandas UDF → project.
No RDDs, no custom Catalyst rules — Catalyst keeps column pruning and
predicate pushdown on the scan because the UDF consumes exactly one column
(``text``) and everything else passes through untouched.

:func:`extract_stage` is the one per-turn stage: each turn is tokenized
once and the token stream feeds every requested policy — ``"main"``
(functions/extract.py), ``"dom"`` (functions/domextract.py),
``"links"`` (functions/links.py) and ``"tokens"`` (the token column,
functions/display.py).

Scale notes (10^12-turn target, BASELINE.json north_rule):

- **Turn-level parallelism is safe**: the reference tokenizer
  (mod.rs:17-37) holds no cross-turn state, so rows can be partitioned
  arbitrarily.  Conversation skew (1% of conversations have 100× turns)
  and text-length skew (64 KB P99 tail) are both *compute* skew inside the
  Python worker — invisible to AQE, which only rebalances shuffle bytes.
  The salted repartition spreads any single conversation over ``SALT_K``
  partitions while keeping (conv_id, salt) groups intact, and
  ``sortWithinPartitions(conv_id, turn_idx)`` restores the stable turn
  ordering the north_star requires.
- **One shuffle total.**  The repartition is the only exchange in the
  plan; the UDF and the projection pipeline on top of it.
- **Arrow batches bound worker memory**: see plans/session.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.display import TOKENS, _token_rows

# partitions one conversation's turns can spread over
SALT_K = 8

# Plan size estimate per task slot up to which the salted exchange runs
# one wave of Python tasks (see ``salted_exchange``).  The estimate is
# Catalyst's: the parquet file length scaled to the pruned columns.  It
# costs a few ms to read; a row count would track the Python work more
# closely but costs a Spark job, ~170 ms on local[4], a sixth of a pass
# over the extract benchmark's input.  Measured on local[4], one wave
# against two: 0.43 MiB per slot (the extract benchmark, 10 alternated
# reps) 1.07 s against 1.24 s; 1.00 MiB (sf0.01, 8 reps) 2.65 s against
# 2.92 s.  At 9.7 MiB (sf0.1) bench.py read 13.0-13.2 s against 11.6 s,
# and another 4-rep probe 17.4 s against 18.1 s (a busier host, passes
# spread 14-22 s).  The threshold sits between the sizes where one wave
# was faster in the median and the size where it once lost, so sf0.1
# keeps two waves.
ONE_WAVE_BYTES_PER_SLOT = 2 * 1024 * 1024

OUTPUTS = ("main", "dom", "links", "tokens")

# Spans travel from the Python worker as ONE int64 per span (start<<32 |
# end) and the projection unpacks them JVM-side to the public
# array<struct<start:int,end:int>>: Arrow then moves a primitive
# list<int64> instead of building a StructArray from Python tuples, which
# was the measurable cost in the worker (start/end < 2^31, so the packed
# value is a non-negative int64).  No per-span ``kind`` string either: a
# Python str per span cost ~30% of the UDF stage in Arrow serialization.
SPAN_PACKED = ArrayType(LongType())

LINK = StructType(
    [
        StructField("link_idx", IntegerType()),
        StructField("href", StringType()),
        StructField("anchor_text", StringType()),
        StructField("src_start", IntegerType()),
        StructField("src_end", IntegerType()),
    ]
)

# UDF struct fields: the tokenizer's status pair, then each requested
# output's fields in OUTPUTS order.
_STATUS_FIELDS = (("err_count", IntegerType()), ("parse_status", StringType()))
_OUTPUT_FIELDS = {
    "main": (
        ("main_text", StringType()),
        ("spans", SPAN_PACKED),
        ("n_tokens", IntegerType()),
        ("n_blocks", IntegerType()),
        ("n_kept_blocks", IntegerType()),
    ),
    "dom": (
        ("dom_main_text", StringType()),
        ("dom_spans", SPAN_PACKED),
        ("dom_n_blocks", IntegerType()),
        ("dom_n_kept_blocks", IntegerType()),
    ),
    "links": (("links", ArrayType(LINK)),),
    "tokens": (("tokens", TOKENS),),
}


def _check_outputs(outputs) -> frozenset:
    outputs = frozenset(outputs)
    if not outputs or not outputs <= set(OUTPUTS):
        raise ValueError(
            f"outputs must be a non-empty subset of {OUTPUTS}: {sorted(outputs)}"
        )
    return outputs


def _stage_fields(outputs: frozenset) -> list:
    return [
        *_STATUS_FIELDS,
        *(f for o in OUTPUTS if o in outputs for f in _OUTPUT_FIELDS[o]),
    ]


def _pack(spans) -> list:
    return [(s[0] << 32) | s[1] for s in spans]


def _row_builder(outputs: frozenset):
    """Per-turn row function ``text → tuple`` in :func:`_stage_fields`
    order: one tokenize, then each requested policy over its tokens.
    Runs in the Python worker, so the tree builder is imported only by
    stages that ask for ``"dom"``."""
    from ..functions.tokenizer import tokenize

    policies = []
    if "main" in outputs:
        from ..functions.extract import extract_from_tokens

        def main(tokens):
            r = extract_from_tokens(tokens)
            return (r["main_text"], _pack(r["spans"]), r["n_tokens"],
                    r["n_blocks"], r["n_kept_blocks"])

        policies.append(main)
    if "dom" in outputs:
        from ..functions.domextract import dom_extract_from_tokens

        def dom(tokens):
            r = dom_extract_from_tokens(tokens)
            return (r["main_text"], _pack(r["spans"]), r["n_blocks"],
                    r["n_kept_blocks"])

        policies.append(dom)
    if "links" in outputs:
        from ..functions.links import links_from_tokens

        def links(tokens):
            return ([(lk["link_idx"], lk["href"], lk["anchor_text"],
                      lk["src_start"], lk["src_end"])
                     for lk in links_from_tokens(tokens)],)

        policies.append(links)
    if "tokens" in outputs:
        policies.append(lambda tokens: (_token_rows(tokens),))
    null_row = (0, "null_input") + tuple(
        "" if isinstance(t, StringType) else [] if isinstance(t, ArrayType) else 0
        for _, t in _stage_fields(outputs)[2:]
    )

    def row(text):
        if text is None:
            return null_row
        tokens, status, err = tokenize(text)
        out = (err, status)
        for policy in policies:
            out += policy(tokens)
        return out

    return row


def _stage_udf(outputs: frozenset):
    """SCALAR_ITER pandas UDF: one Arrow batch of turn texts in, one
    batch of ``outputs`` structs out.  Iterator form amortizes per-task
    setup (entity dict + dispatch tables are module globals, imported
    once per Python worker — no broadcast needed, SURVEY.md §1.2)."""
    fields = _stage_fields(outputs)
    names = [n for n, _ in fields]

    @pandas_udf(StructType([StructField(n, t) for n, t in fields]))
    def stage_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        row = _row_builder(outputs)
        for texts in batches:
            yield pd.DataFrame([row(t) for t in texts], columns=names)

    return stage_udf


def _projection(outputs: frozenset) -> list:
    """``ext`` struct → public columns: the leading policy's
    (main_text, spans), err_count, parse_status, then the rest.  A
    DOM-only stage drops the ``dom_`` prefix (run_dom_extraction's
    contract); packed spans are unpacked JVM-side."""
    names = [n for n, _ in _stage_fields(outputs)]
    lead = 2 if outputs & {"main", "dom"} else 0
    cols = []
    for n in names[2:][:lead] + names[:2] + names[2:][lead:]:
        c = F.col(f"ext.{n}")
        if n.endswith("spans"):
            c = F.transform(
                c,
                lambda p: F.struct(
                    F.shiftright(p, 32).cast("int").alias("start"),
                    p.bitwiseAND(F.lit(0xFFFFFFFF)).cast("int").alias("end"),
                ),
            )
        cols.append(
            c.alias(n if "main" in outputs else n.removeprefix("dom_"))
        )
    return cols


def partitions_for(size_bytes: int, slots: int, shuffle_partitions: int) -> int:
    """The salted exchange's default partition count for an input whose
    plan estimates ``size_bytes``: one wave (``slots``) up to
    ``ONE_WAVE_BYTES_PER_SLOT`` per slot, else the larger of two waves
    and ``shuffle_partitions``.  A plan without statistics (a
    ``createDataFrame`` input) estimates ``spark.sql.defaultSizeInBytes``,
    2^63 - 1, and so gets the larger count."""
    if size_bytes <= slots * ONE_WAVE_BYTES_PER_SLOT:
        return slots
    return max(2 * slots, shuffle_partitions)


def exchange_partitions(turns: DataFrame) -> int:
    """:func:`partitions_for` the pruned ``(conv_id, turn_idx, text)``
    frame ``turns``: its optimized plan's size estimate, the session's
    ``defaultParallelism`` and ``spark.sql.shuffle.partitions``."""
    spark = turns.sparkSession
    stats = turns._jdf.queryExecution().optimizedPlan().stats()
    return partitions_for(
        stats.sizeInBytes(),
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def salted_exchange(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Prune ``df`` to (conv_id, turn_idx, text), repartition it on
    (conv_id, salt) into an EXPLICIT partition count, then sort each
    partition by (conv_id, turn_idx).

    The count must be explicit: a column-only repartition is
    AQE-coalescible, and AQE merges compressed-text shuffle partitions
    under the Python compute it cannot see.  The default is
    :func:`exchange_partitions`: one wave of Python tasks for a small
    input, where a second wave costs more task start-up than it saves
    in balance, and otherwise two tasks per slot (or
    ``spark.sql.shuffle.partitions`` when larger), so a slot that draws
    a long-text task is not left alone with it while the others idle.
    The salt spreads one conversation's turns over up to ``SALT_K``
    partitions."""
    turns = df.select("conv_id", "turn_idx", "text")
    if num_partitions is None:
        num_partitions = exchange_partitions(turns)
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(SALT_K))
    parted = turns.repartition(num_partitions, F.col("conv_id"), salt)
    return parted.sortWithinPartitions("conv_id", "turn_idx")


def extract_columns(df: DataFrame, outputs) -> DataFrame:
    """Replace ``df``'s ``text`` column with the ``outputs`` columns,
    keeping every other column and the row layout — no exchange.  Use
    directly where the input is already spread well (a file-source
    stream, a conv_id-bucketed source); :func:`extract_stage` adds the
    salted exchange."""
    outputs = _check_outputs(outputs)
    ext = df.withColumn("ext", _stage_udf(outputs)(F.col("text")))
    return ext.select(
        *[c for c in df.columns if c != "text"], *_projection(outputs)
    )


def extract_stage(
    df: DataFrame, outputs, *, num_partitions: int | None = None
) -> DataFrame:
    """transcripts DataFrame → (conv_id, turn_idx, <outputs columns>).

    ``outputs`` is a non-empty subset of ``OUTPUTS``:

    - ``"main"``: main_text, spans, err_count, parse_status, n_tokens,
      n_blocks, n_kept_blocks (token-stream policy);
    - ``"dom"``: the DOM policy's main_text, spans, n_blocks,
      n_kept_blocks — prefixed ``dom_`` when ``"main"`` is also asked
      for (err_count/parse_status are shared: one tokenize);
    - ``"links"``: ``links`` array<struct<link_idx, href, anchor_text,
      src_start, src_end>> (explode it for the per-link table);
    - ``"tokens"``: ``tokens`` array<TOKEN> (functions/display.py; explode
      it for the ``next_token`` stream).

    One salted exchange, one Arrow UDF stage, whatever the outputs."""
    return extract_columns(salted_exchange(df, num_partitions), outputs)


def run_extraction(
    df: DataFrame, *, num_partitions: int | None = None
) -> DataFrame:
    """(conv_id, turn_idx, main_text, spans, err_count, parse_status,
    n_tokens, n_blocks, n_kept_blocks) — the flagship extraction."""
    return extract_stage(df, {"main"}, num_partitions=num_partitions)


def run_dom_extraction(
    df: DataFrame, *, num_partitions: int | None = None
) -> DataFrame:
    """(conv_id, turn_idx, main_text, spans, err_count, parse_status,
    n_blocks, n_kept_blocks) — the DOM-heuristic extraction (tree
    builder + text-density scoring)."""
    return extract_stage(df, {"dom"}, num_partitions=num_partitions)


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-status metrics rollup (north_star: turns processed, parse
    errors, bytes of main text) — pure built-in aggregates, map-side
    partial agg + final, one small shuffle."""
    return extracted.groupBy("parse_status").agg(
        F.count(F.lit(1)).alias("turns"),
        F.sum("err_count").alias("dropped_end_tags"),
        F.sum(F.length("main_text")).alias("main_text_chars"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_kept_blocks").alias("kept_blocks"),
        F.sum("n_blocks").alias("blocks"),
    )


# Turns per assembled conversation; the DuckDB twin in
# ``__spark_entry__`` caps at the same value.
MAX_TURNS = 4096


def assemble_conversations(df: DataFrame, max_turns: int = MAX_TURNS) -> DataFrame:
    """Conversation-level corpus assembly: one row per conversation with
    its turns joined in (conv_id, turn_idx) order — the unit a
    conversation-tuned training run actually consumes.

    ``text_md5`` fingerprints the assembled text so the driver gate
    hashes 32 bytes per conversation instead of megabytes; real
    consumers drop the md5 and keep ``full_text``.

    Scale shape: ONE shuffle on conv_id (map-side partial collect_list),
    ordering restored inside each group by array_sort on the
    (turn_idx, text) struct — no global sort, no window.  Long-
    conversation skew is bounded by the corpus's max conversation size
    (the same P99 the salted extraction handles); a conversation is the
    atomic output unit here, so it must land on one reducer by
    definition.

    ``max_turns`` caps the assembled output (one
    pathological conversation must not widen downstream rows without
    bound): only the first ``max_turns`` turns are concatenated and
    ``overflow=1`` flags the truncation — the parse_status-style signal
    a pipeline uses to route monsters to a dedicated pass.  The cap
    bounds the OUTPUT row, not the collect_list buffer itself; if an
    adversarial corpus could hold single conversations past executor
    memory, pre-aggregate per-conv turn counts (ids-only) and anti-join
    the monsters out before assembly — same two-shuffle shape, documented
    here rather than paid by default."""
    collected = (
        df.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .agg(F.collect_list(F.struct("turn_idx", "text")).alias("turns"))
    )
    kept = F.slice(F.array_sort("turns"), 1, max_turns)
    full_text = F.concat_ws("\n", F.transform(kept, lambda s: s["text"]))
    return collected.select(
        "conv_id",
        F.size("turns").cast("long").alias("n_turns"),
        F.md5(full_text).alias("text_md5"),
        F.length(full_text).cast("long").alias("n_chars"),
        (F.size("turns") > max_turns).cast("long").alias("overflow"),
    ).orderBy("conv_id")
