"""PII scrubbing: pattern redaction over the ``documents`` table.

The compliance pass every web-scale corpus runs before training: redact
emails, IPv4 addresses, and phone-shaped numbers to typed placeholder
tokens, and report per-doc match counts for audit metrics.

Pattern-dialect contract: every regex here must mean THE SAME THING in
Java's engine (Spark) and RE2 (DuckDB) — so no backrefs, no lookaround,
no possessive quantifiers; only literals, classes, bounded repeats, and
``\\b`` (supported identically in both).  Additionally, alternation
semantics differ (Java is leftmost-FIRST, RE2 is leftmost-LONGEST), so
alternatives must never be able to match at the same start position with
different lengths — keep alternative branches prefix-disjoint (e.g. the
phone pattern's ``\\+\\d…`` vs ``\\b\\d{3}[- ]…`` branches can never both
fire at one offset) or order them longest-first AND prefix-disjoint.
Patterns are intentionally
conservative (precision over recall): a corpus pipeline would swap in an
NER pass for the recall tail; this operator is the scalable regex tier.

Scale shape: scan → project, zero shuffle, whole-stage codegen
(regexp_replace / regexp_extract_all are JVM-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (name, pattern, replacement) applied IN ORDER — order matters (an email
# contains digit runs a later pattern might otherwise nibble at)
PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}\b|\b\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Per-doc redaction counts plus the md5 of the scrubbed text (the
    driver gate hashes the fingerprint, not megabytes of text)."""
    scrubbed = F.col("text")
    counts = []
    for name, pat, repl in PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select(
        "doc_id",
        *counts,
        F.md5(scrubbed).alias("scrubbed_md5"),
        (F.length("text") - F.length(scrubbed)).cast("long").alias("chars_removed"),
    )


def pii_scrub_sql() -> str:
    # counts are against the PROGRESSIVELY scrubbed text, same as Spark
    expr = "text"
    counts = []
    for name, pat, repl in PATTERNS:
        counts.append(f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT) AS n_{name}")
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    cols = ",\n           ".join(counts)
    return f"""
    SELECT doc_id,
           {cols},
           md5({expr}) AS scrubbed_md5,
           CAST(length(text) - length({expr}) AS BIGINT) AS chars_removed
    FROM documents
    """


def scrub_text(text: str) -> str:
    """Pure-Python twin for tests (``re`` module shares the dialect
    subset used above)."""
    import re

    for _, pat, repl in PATTERNS:
        text = re.sub(pat, repl, text)
    return text
