"""PDF/layout parse operators (north_rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

The corpus tables carry no real PDFs, so the binary column is
synthesized DETERMINISTICALLY from ``documents.text`` with the
:mod:`..functions.pdftext` writer (fixed layout grammar: lines of
``LINE_WORDS`` words at 14pt leading, pages of ``PAGE_LINES`` lines;
even doc_ids FlateDecode-compressed, odd raw) — and then parsed back
with the real extractor (object scan, zlib streams, content-stream
interpreter, line/block layout).  Because the layout grammar is fixed,
the DuckDB oracle can recompute every page's expected text from the raw
``text`` column independently — the driver gate therefore verifies the
WHOLE writer→parser→layout round trip value-exactly, not just row
counts.

Scale shape: two Arrow-batched Python stages over a binary column
(build, parse) — the same mapInPandas plumbing as
:mod:`multimodal`; binary blobs stay columnar, metadata-only queries
prune them.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.pdftext import build_pdf, extract_pdf_text
from ..functions.textnorm import SQL_WS, ascii_words

LINE_WORDS = 8
PAGE_LINES = 20
LEADING = 14.0
TOP_Y = 720.0
LEFT_X = 72.0

PAGES_SCHEMA = (
    "doc_id bigint, page_idx bigint, page_text string, n_lines bigint, "
    "n_blocks bigint, status string"
)


def doc_to_pdf(text: str, compress: bool) -> bytes:
    """Deterministic text → PDF bytes under the fixed layout grammar."""
    words = ascii_words(text)  # cross-engine-stable whitespace contract
    lines = [
        " ".join(words[i : i + LINE_WORDS])
        for i in range(0, len(words), LINE_WORDS)
    ]
    page_count = max(1, -(-len(lines) // PAGE_LINES))
    pages = []
    for p in range(page_count):
        chunk = lines[p * PAGE_LINES : (p + 1) * PAGE_LINES]
        pages.append(
            [(LEFT_X, TOP_Y - i * LEADING, ln) for i, ln in enumerate(chunk)]
        )
    return build_pdf(pages, compress=compress)


def pdf_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, pdf: binary)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pdf": [
                        doc_to_pdf(t, compress=bool(d % 2 == 0))
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return docs.mapInPandas(gen, schema="doc_id bigint, pdf binary")


def pdf_page_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pdf) → one row per page with extracted text + layout."""
    payloads = pdf_payloads(spark, sf_dir)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["pdf"]):
                r = extract_pdf_text(bytes(data))
                if not r["pages"]:
                    rows.append((doc_id, 0, "", 0, 0, r["status"]))
                    continue
                for idx, page in enumerate(r["pages"]):
                    rows.append(
                        (
                            doc_id,
                            idx,
                            "\n".join(page["lines"]),
                            len(page["lines"]),
                            len(page["blocks"]),
                            r["status"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "page_idx",
                    "page_text",
                    "n_lines",
                    "n_blocks",
                    "status",
                ],
            )

    return payloads.mapInPandas(parse, schema=PAGES_SCHEMA)


def pdf_page_text_sql() -> str:
    """Independent recomputation of every page's text from the raw
    ``text`` column under the fixed layout grammar (words → 8-word
    lines → 20-line pages) — value-exact vs the Spark round trip."""
    return f"""
    WITH base AS (
      -- Python str.split() semantics (the writer side): whitespace-run
      -- split with empty tokens dropped — robust to leading/trailing
      -- and tab/newline whitespace, unlike trim()+split
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '{SQL_WS}+'),
                         w -> w <> '') AS words
      FROM documents
    ),
    dims AS (
      SELECT doc_id, words, len(words) AS nw,
             CAST(ceil(len(words) / {LINE_WORDS}.0) AS BIGINT) AS n_lines
      FROM base
    ),
    pages AS (
      SELECT doc_id, words, nw, n_lines,
             unnest(range(CAST(greatest(1, ceil(n_lines / {PAGE_LINES}.0))
                               AS BIGINT))) AS page_idx
      FROM dims
    )
    SELECT doc_id, page_idx,
           coalesce(array_to_string(
             list_transform(
               range(page_idx * {PAGE_LINES},
                     CAST(least(n_lines, (page_idx + 1) * {PAGE_LINES}) AS BIGINT)),
               l -> array_to_string(words[l * {LINE_WORDS} + 1 :
                                          (l + 1) * {LINE_WORDS}], ' ')),
             chr(10)), '') AS page_text,
           greatest(0, least({PAGE_LINES}, n_lines - page_idx * {PAGE_LINES}))
               AS n_lines,
           CAST(CASE WHEN n_lines - page_idx * {PAGE_LINES} > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS n_blocks,
           'ok' AS status
    FROM pages
    """
