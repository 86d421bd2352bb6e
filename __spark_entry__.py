"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship main-content extraction over the synthesized
``transcripts`` table (BASELINE.json input_hint schema — deterministic,
seeded, no external data).  ``queries``/``oracle_sql`` cover the operator
inventory: extraction (rows-only — tokenization is not SQL-expressible),
the training-data-pipeline operators (dedup / similarity / text analysis /
multimodal plumbing), and the relational coverage set, each with an exact
DuckDB oracle where expressible.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.goldens import (
    dom_golden_parquet,
    gate_golden_parquet,
    link_golden_parquet,
)
from html_parser_spark.operators import (
    chunking,
    dedup,
    linkops,
    linkrank,
    multimodal,
    pdfops,
    relational,
    sampling,
    scrub,
    similarity,
    temporal,
    textstats,
    udx,
)
from html_parser_spark.functions.display import display_expr
from html_parser_spark.functions.textnorm import SQL_WS
from html_parser_spark.sources.tables import corpus_path, read_corpus
from html_parser_spark.streaming import stateful
from html_parser_spark.operators.pipeline import (
    MAX_TURNS,
    assemble_conversations,
    extract_stage,
    extraction_metrics,
    run_dom_extraction,
    run_extraction,
)


# the one sf-from-path implementation and the one gate-scale rule (the
# scale every DuckDB oracle below reads its fixture at) live with the
# fixture generators
from html_parser_spark.fixtures import gate_sf_dir, sf_of as _sf_of


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract main content from every turn at sf0.001.

    The explicit count keeps the flagship's row order (its partition
    layout) the same on every box; the default count follows the
    session's task slots."""
    return run_extraction(
        spark.read.parquet(ensure_transcripts(0.001)), num_partitions=8
    )


def _over(op, *tables: str) -> Callable[[SparkSession, str], DataFrame]:
    """Gate row that runs ``op`` over the named corpus tables of the
    driver's testdata directory, in order."""
    return lambda spark, sf_dir: op(
        *(read_corpus(spark, sf_dir, t) for t in tables)
    )


# One extraction stage ("main" plus the token column) shared across the
# gate queries extract_turns, extract_metrics, tokens_kind_counts and
# display_roundtrip, so the Python pass over the transcripts runs once.
# Keyed by session identity so a restarted session never sees a stale plan.
_FRAME_CACHE: dict = {}


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), _sf_of(sf_dir))
    df = _FRAME_CACHE.get(key)
    if df is None:
        df = extract_stage(
            read_corpus(spark, sf_dir, "transcripts"), {"main", "tokens"}
        ).persist(StorageLevel.MEMORY_AND_DISK)
        _FRAME_CACHE[key] = df
    return df


def _extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction, driver-facing projection.

    The driver's canonicalizer sorts/hashes columns via pandas and cannot
    factorize an ``array<struct>`` column, so the spans
    column is serialized to a stable JSON scalar here (and the shared
    frame's token column dropped); ``run_extraction`` keeps the typed
    struct column for real consumers.  Value-oracled against the
    committed reference-binary goldens (goldens.py)."""
    ext = _extracted(spark, sf_dir)
    return ext.select(
        *[c for c in ext.columns if c not in ("spans", "tokens")],
        F.to_json("spans").alias("spans_json"),
    )


def _dom_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-heuristic extraction (tree builder + text-density scoring —
    functions/domextract.py), spans serialized like the flagship."""
    ext = run_dom_extraction(read_corpus(spark, sf_dir, "transcripts"))
    return ext.select(
        *[c for c in ext.columns if c != "spans"],
        F.to_json("spans").alias("spans_json"),
    )


def _extract_links_oracle() -> str:
    path = link_golden_parquet(_sf_of(gate_sf_dir()))
    return f"""
    SELECT conv_id, turn_idx, link_idx, href, anchor_text,
           src_start, src_end
    FROM read_parquet('{path}')
    """


def _link_target_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target link-graph signals (inlink count, distinct source
    conversations, anchor consensus).  Spark derives the stats
    from the live harvest; the DuckDB twin re-derives them entirely from
    the committed engine-golden link rows, so both the harvest AND the
    aggregation/tie-break logic sit under the hash."""
    return linkrank.link_target_stats(
        read_corpus(spark, sf_dir, "transcripts"), top_k=100
    )


def _link_target_stats_oracle() -> str:
    path = link_golden_parquet(_sf_of(gate_sf_dir()))
    return linkrank.link_target_stats_sql(path, top_k=100)


def _link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point-integer PageRank over the doc→url link graph — the
    gate form of the float production scorer.  Integer mass makes the
    per-round sums order-independent, so
    the md5 value gate holds bit-exactly; the float twin stays
    pytest-pinned vs an independent dense NumPy iteration."""
    return linkrank.link_pagerank_fp(
        read_corpus(spark, sf_dir, "transcripts"), iterations=4, top_k=100
    )


def _link_pagerank_oracle() -> str:
    path = link_golden_parquet(_sf_of(gate_sf_dir()))
    return linkrank.link_pagerank_sql(path, iterations=4, top_k=100)


def _extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extraction_metrics(_extracted(spark, sf_dir)).orderBy(
        "parse_status"
    )


def _token_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream surface: the stage's token column -> explode
    (= next_token) -> per-kind counts over the transcript corpus.
    Value-oracled against kind counts of the REFERENCE binary's token
    streams."""
    tk = _extracted(spark, sf_dir)
    return (
        tk.select(F.explode("tokens").alias("tok"))
        .groupBy(F.col("tok.kind").alias("kind"))
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .orderBy("kind")
    )


def _display_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Display-format serialization (token.rs:163-181, 210-222 Display
    impls) over the transcript corpus: per-turn md5 of the concatenated
    Display string, value-oracled against md5 of the REFERENCE BINARY's
    own Display output (a length-only projection would let two wrong
    serializations of equal length pass)."""
    tk = _extracted(spark, sf_dir)
    return tk.select(
        "conv_id",
        "turn_idx",
        F.md5(display_expr(F.col("tokens"))).alias("display_md5"),
    )


# MinHash gate wrappers: the operators default to the 128-hash/16-band
# corpus-scale geometry (dedup.py N_HASHES/N_BANDS); the gate corpus runs
# the explicit CI-scale 8/4 geometry so driver values stay stable and the
# DuckDB twin doesn't inline 128 shingle expressions.
def _gate_mh():
    return {"n_hashes": dedup.GATE_N_HASHES, "n_bands": dedup.GATE_N_BANDS}


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard(
        read_corpus(spark, sf_dir, "documents"), **_gate_mh()
    )


def _embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with the deterministic planted set unioned in —
    the raw testdata embeddings are i.i.d. (max pairwise cosine 0.513),
    so without planting the gate row hash-matched on an EMPTY result
    and proved nothing.  Both engines union the
    same k/64-grid literals (similarity.planted_near_dup_vectors)."""
    return similarity.embedding_near_dups(
        read_corpus(spark, sf_dir, "embeddings"), include_planted=True
    )


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the quantizer trained on the same embeddings."""
    return similarity.ivf_topk(
        read_corpus(spark, sf_dir, "embeddings"),
        similarity.trained_centroids(sf_dir),
    )


def _cluster_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_cluster_keep_list(
        read_corpus(spark, sf_dir, "documents"), **_gate_mh()
    )


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination at the gate's explicit 4-gram geometry —
    the operator default is the published 8-gram operating point, but the
    fixture corpus's vocabulary makes 8-gram contamination a 1-row signal
    at sf0.01 (4-gram: ~27 rows — enough to value-check the join)."""
    return dedup.decontaminate(read_corpus(spark, sf_dir, "documents"), gram_width=4)


def _incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-ingest-batch dedup vs the existing corpus at the gate's 8/4
    MinHash geometry (operator default is 128/16)."""
    return dedup.incremental_dedup(
        read_corpus(spark, sf_dir, "documents"), **_gate_mh()
    )


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing at an explicit gate geometry (512-token
    sequences, 4 shards) so the fixture corpus produces plenty of
    boundary-crossing pieces; the operator default is 2048/8."""
    return chunking.pack_sequences(
        read_corpus(spark, sf_dir, "documents"), seq_len=512, n_groups=4
    )


def _conv_assemble_oracle() -> str:
    path = ensure_transcripts(_sf_of(gate_sf_dir()))
    return f"""
    WITH ranked AS (
      SELECT conv_id, text,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
      FROM read_parquet('{path}')
    ), tot AS (
      SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
      FROM ranked GROUP BY conv_id
    ), agg AS (
      SELECT conv_id,
             md5(string_agg(text, chr(10) ORDER BY rn)) AS text_md5,
             CAST(length(string_agg(text, chr(10) ORDER BY rn)) AS BIGINT)
               AS n_chars
      FROM ranked WHERE rn <= {MAX_TURNS} GROUP BY conv_id
    )
    SELECT t.conv_id, t.n_turns, a.text_md5, a.n_chars,
           CAST(t.n_turns > {MAX_TURNS} AS BIGINT) AS overflow
    FROM tot t JOIN agg a USING (conv_id) ORDER BY conv_id
    """


def _stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming gate query: run the
    extraction stream as a Trigger.AvailableNow backfill over the same
    transcripts the batch path reads, into a fresh sink, and return the
    sink contents projected exactly like ``extract_turns`` — the oracle
    IS the committed reference-binary golden, so stream ≡ batch ≡
    reference is driver-snapshotted, not just pytest-pinned."""
    import shutil
    import tempfile

    from html_parser_spark.streaming.stream import run_stream_backfill

    sf = _sf_of(sf_dir)
    in_dir = os.path.dirname(corpus_path(sf_dir, "transcripts"))
    # deterministic per-sf sink, wiped before each run: repeated gate/
    # snapshot invocations reuse ONE directory instead of accumulating
    # a corpus copy + checkpoint per call under /tmp
    out = os.path.join(tempfile.gettempdir(), f"stream_gate_sf{sf}")
    shutil.rmtree(out, ignore_errors=True)
    paths = run_stream_backfill(spark, in_dir, out, with_metrics=False)
    ext = spark.read.parquet(paths["extracted"])
    return ext.select(
        "conv_id",
        "turn_idx",
        "main_text",
        F.to_json("spans").alias("spans_json"),
        "err_count",
        "parse_status",
        "n_tokens",
        "n_blocks",
        "n_kept_blocks",
    )


def _conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map rollup over the transcript corpus."""
    return udx.conversation_stats(
        read_corpus(spark, sf_dir, "transcripts")
    ).orderBy("conv_id")


TOKEN_STATS_SQL = f"""
    SELECT doc_id,
           length(text) AS char_count,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '{SQL_WS}+')) END AS token_count,
           CAST(floor((CASE WHEN trim(text) = '' THEN 0.0
                ELSE list_sum(list_transform(regexp_split_to_array(trim(text), '{SQL_WS}+'),
                                             w -> CAST(length(w) AS DOUBLE)))
                     / len(regexp_split_to_array(trim(text), '{SQL_WS}+')) END) * 10000)
                AS BIGINT) AS avg_token_len_bp,
           md5({dedup.NORM_SQL}) AS fingerprint,
           length({dedup.NORM_SQL}) AS norm_len
    FROM documents
"""


def _conv_stats_oracle() -> str:
    """DuckDB twin of the applyInPandas conversation rollup — plain GROUP
    BY over the same transcripts parquet (read directly by path; the
    driver's pre-registered views don't include transcripts).  The sf
    follows the driver's gate (0.01) unless the local test harness pins a
    different dir via SPARK_GRAFT_TEST_SF_DIR."""
    path = ensure_transcripts(_sf_of(gate_sf_dir()))
    return f"""
    SELECT conv_id, count(*) AS n_turns,
           count(DISTINCT role) AS n_roles,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           count(DISTINCT text) AS n_distinct_texts
    FROM read_parquet('{path}')
    GROUP BY conv_id ORDER BY conv_id
    """


def _golden_path() -> str:
    """Reference-binary golden parquet for the gate's scale factor.

    Tokenization itself is not SQL-expressible, but its VALUE truth is:
    the goldens are generated from the compiled reference binary with
    per-row full-token-stream + Display equality asserted (see
    tools/golden_gen/gen_gate_goldens.py provenance notes), committed,
    and materialized as parquet for DuckDB — so the extraction family is
    hash-checked against the reference, not merely row-counted."""
    return gate_golden_parquet(_sf_of(gate_sf_dir()))


def _extract_turns_oracle() -> str:
    return f"""
    SELECT conv_id, turn_idx, main_text, spans_json, err_count,
           parse_status, n_tokens, n_blocks, n_kept_blocks
    FROM read_parquet('{_golden_path()}')
    """


def _extract_metrics_oracle() -> str:
    return f"""
    SELECT parse_status,
           count(*) AS turns,
           CAST(sum(err_count) AS BIGINT) AS dropped_end_tags,
           CAST(sum(length(main_text)) AS BIGINT) AS main_text_chars,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(n_kept_blocks) AS BIGINT) AS kept_blocks,
           CAST(sum(n_blocks) AS BIGINT) AS blocks
    FROM read_parquet('{_golden_path()}')
    GROUP BY parse_status ORDER BY parse_status
    """


def _token_kind_counts_oracle() -> str:
    path = _golden_path()
    selects = "\n      UNION ALL ".join(
        f"SELECT '{k}' AS kind, CAST(sum(n_{k}) AS BIGINT) AS n_tokens "
        f"FROM read_parquet('{path}')"
        for k in ("chars", "start", "end", "comment", "doctype", "eof")
    )
    return f"""
    SELECT kind, n_tokens FROM ({selects})
    WHERE n_tokens > 0 ORDER BY kind
    """


def _display_roundtrip_oracle() -> str:
    return f"""
    SELECT conv_id, turn_idx, display_md5 FROM read_parquet('{_golden_path()}')
    """


def _dom_turns_oracle() -> str:
    """ENGINE goldens (tools/golden_gen/gen_dom_goldens.py): the reference
    has no DOM stage, so the oracle checks the distributed Spark execution
    against the committed single-process Python truth — value parity for
    text, spans and block metrics."""
    path = dom_golden_parquet(_sf_of(gate_sf_dir()))
    return f"""
    SELECT conv_id, turn_idx, main_text, spans_json, err_count,
           parse_status, n_blocks, n_kept_blocks
    FROM read_parquet('{path}')
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 queries — the gate snapshot truncates past 50, so a
    new row must replace one.  Operators without a row of their own are
    value-covered elsewhere:

    - MinHash signatures and LSH candidates: inside
      ``dedup_ngram_jaccard`` (at gate threshold 0.0 it verifies the
      identical candidate pair set plus exact Jaccard scores); signature
      DuckDB parity in tests/test_dedup_clusters.py::
      test_minhash_geometry_is_parameterized.
    - SimHash sketches and pairs: sketch values DuckDB-parity-pinned
      (tests/test_textnorm_parity.py); pairing semantics inside
      ``dedup_cluster_keep_list``'s recursive-CTE component twin.
    - approximate distinct/quantiles: error contracts value-oracled
      inside the exact twins (``approx_within_5pct`` /
      ``approx_rank_ok`` columns).
    - corpus sampling: the ``in_sample`` column of ``corpus_splits``.
    - text fingerprints: md5-normalized fingerprint + norm_len columns
      of ``text_token_stats``.
    """
    return {
        # flagship extraction (value-oracled vs reference-binary goldens)
        "extract_turns": _extract_turns,
        "extract_dom_turns": _dom_extract_turns,
        "extract_metrics": _extract_metrics,
        # hyperlink harvest (href + anchor text + provenance spans), oracled
        # against committed engine goldens (goldens.py)
        "extract_links": _over(linkops.run_link_extraction, "transcripts"),
        "link_target_stats": _link_target_stats,
        "tokens_kind_counts": _token_kind_counts,
        "display_roundtrip": _display_roundtrip,
        "stream_extract": _stream_extract,
        "conversation_stats": _conv_stats,
        # ordered turn concatenation, md5-fingerprinted, capped at MAX_TURNS
        "conversation_assembly": _over(assemble_conversations, "transcripts"),
        # deduplication family
        # (exact-duplicate detection's hash-groupBy core is exercised
        # with values by dedup_keep_list)
        "dedup_keep_list": _over(dedup.dedup_keep_list, "documents"),
        "dedup_shared_substrings": _over(dedup.shared_substrings, "documents"),
        "dedup_ngram_jaccard": _ngram_jaccard,
        "dedup_cluster_keep_list": _cluster_keep_list,
        "dedup_decontaminate": _decontaminate,
        "dedup_incremental": _incremental_dedup,
        "dedup_embedding_cosine": _embedding_cosine,
        # similarity search
        "ann_cosine_topk": _over(similarity.cosine_topk, "embeddings"),
        "ann_lsh_topk": _over(similarity.lsh_topk, "embeddings"),
        "ann_ivf_topk": _ivf_topk,
        # text analysis
        "text_token_stats": _over(textstats.token_stats, "documents"),
        "text_quality_scores": _over(textstats.quality_scores, "documents"),
        "text_langid": _over(textstats.langid, "documents"),
        "text_length_quantiles": _over(textstats.length_quantiles, "documents"),
        "text_distinct_counts": _over(textstats.distinct_counts, "documents"),
        "text_ngram_topk": _over(textstats.ngram_topk, "documents"),
        "text_repetition_filters": _over(textstats.repetition_filters, "documents"),
        "text_vocab_coverage": _over(textstats.vocab_coverage, "documents"),
        # deterministic splits / sampling (scan -> project, no shuffle)
        "corpus_splits": _over(sampling.corpus_splits, "documents"),
        "corpus_chunks": _over(chunking.chunk_documents, "documents"),
        "corpus_pack": _pack_sequences,
        "corpus_mix": _over(sampling.mix_documents, "documents"),
        "text_pii_scrub": _over(scrub.pii_scrub, "documents"),
        # multimodal plumbing (binary payload → mapInPandas sniff +
        # decode; real stdlib PNG/GIF/BMP/WAV codecs, JPEG header walk
        # with honestly-stubbed pixels — all value-oracled)
        "multimodal_metadata": _over(multimodal.media_metadata, "media_blobs"),
        # PDF/layout parse (writer→parser→layout round trip, oracled)
        "pdf_page_text": _over(pdfops.pdf_page_text, "documents"),
        # relational coverage (SURVEY.md §2.6)
        "rel_pricing_summary": _over(relational.pricing_summary, "lineitem"),
        "rel_top_revenue_nations": _over(
            relational.top_revenue_nations, "orders", "customer", "nation"
        ),
        "rel_customers_without_orders": _over(
            relational.customers_without_orders, "customer", "orders"
        ),
        "rel_parts_with_shipments": _over(
            relational.parts_with_shipments, "part", "lineitem"
        ),
        "rel_user_event_windows": _over(relational.user_event_windows, "events"),
        "rel_events_daily_rollup": _over(relational.events_daily_rollup, "events"),
        "rel_events_monthly_cube": _over(relational.events_monthly_cube, "events"),
        "rel_event_type_setops": _over(relational.event_type_setops, "events"),
        "rel_json_props_stats": _over(relational.json_props_stats, "events"),
        # temporal joins Spark lacks natively (scalable decompositions)
        "rel_asof_join": _over(temporal.asof_last_click, "events"),
        "rel_range_join": _over(temporal.range_join_activity, "events"),
        "rel_sessionize": _over(temporal.sessionize, "events"),
        "udaf_value_median": _over(udx.user_value_median, "events"),
        # §2.6 categories: iterative graph analytics, stateful streaming
        "link_pagerank": _link_pagerank,
        "stream_sessionize": _over(stateful.run_sessionize_backfill, "events"),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_turns": _extract_turns_oracle(),
        "extract_dom_turns": _dom_turns_oracle(),
        "extract_metrics": _extract_metrics_oracle(),
        "extract_links": _extract_links_oracle(),
        "link_target_stats": _link_target_stats_oracle(),
        "tokens_kind_counts": _token_kind_counts_oracle(),
        "display_roundtrip": _display_roundtrip_oracle(),
        "stream_extract": _extract_turns_oracle(),
        "dedup_keep_list": dedup.dedup_keep_list_sql(),
        "dedup_shared_substrings": dedup.shared_substrings_sql(),
        "dedup_ngram_jaccard": dedup.ngram_jaccard_sql(**_gate_mh()),
        "dedup_embedding_cosine": similarity.embedding_near_dups_sql(
            include_planted=True
        ),
        "dedup_cluster_keep_list": dedup.dedup_cluster_keep_list_sql(**_gate_mh()),
        "dedup_decontaminate": dedup.decontaminate_sql(gram_width=4),
        "dedup_incremental": dedup.incremental_dedup_sql(**_gate_mh()),
        "ann_cosine_topk": similarity.cosine_topk_sql(),
        "ann_lsh_topk": similarity.lsh_topk_sql(),
        "ann_ivf_topk": similarity.ivf_topk_sql(),
        "conversation_stats": _conv_stats_oracle(),
        "conversation_assembly": _conv_assemble_oracle(),
        "text_token_stats": TOKEN_STATS_SQL,
        "text_quality_scores": textstats.quality_scores_sql(),
        "text_langid": textstats.langid_sql(),
        "text_length_quantiles": textstats.length_quantiles_sql(),
        "text_distinct_counts": textstats.distinct_counts_sql(),
        "text_ngram_topk": textstats.ngram_topk_sql(),
        "text_repetition_filters": textstats.repetition_filters_sql(),
        "text_vocab_coverage": textstats.vocab_coverage_sql(),
        "corpus_splits": sampling.corpus_splits_sql(),
        "corpus_chunks": chunking.chunk_documents_sql(),
        "corpus_pack": chunking.pack_sequences_sql(seq_len=512, n_groups=4),
        "corpus_mix": sampling.mix_documents_sql(),
        "text_pii_scrub": scrub.pii_scrub_sql(),
        "multimodal_metadata": multimodal.media_metadata_sql(),
        "pdf_page_text": pdfops.pdf_page_text_sql(),
        "rel_pricing_summary": relational.pricing_summary_sql(),
        "rel_top_revenue_nations": relational.top_revenue_nations_sql(),
        "rel_customers_without_orders": relational.customers_without_orders_sql(),
        "rel_parts_with_shipments": relational.parts_with_shipments_sql(),
        "rel_user_event_windows": relational.user_event_windows_sql(),
        "rel_events_daily_rollup": relational.events_daily_rollup_sql(),
        "rel_events_monthly_cube": relational.events_monthly_cube_sql(),
        "rel_event_type_setops": relational.event_type_setops_sql(),
        "rel_json_props_stats": relational.json_props_stats_sql(),
        "rel_asof_join": temporal.asof_last_click_sql(),
        "rel_range_join": temporal.range_join_activity_sql(),
        "rel_sessionize": temporal.sessionize_sql(),
        "udaf_value_median": udx.user_value_median_sql(),
        "link_pagerank": _link_pagerank_oracle(),
        "stream_sessionize": stateful.stream_sessionize_sql(),
        # every exposed query has an oracle (approx sketches are
        # value-checked via error-band columns inside their exact twins)
    }
