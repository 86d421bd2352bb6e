"""Token-stream column surface + Display-format parity.

Completes the reference's public API on the Spark side (SURVEY.md §2.1):

- ``TOKENS`` / ``_token_rows`` — the ``Tokenizer::new``/``next_token``
  analogue: one ``array<struct>`` token column per turn (Char runs
  coalesced into one ``data`` string per run — lossless and ~100×
  smaller than per-char tokens).  The column is the ``"tokens"`` output
  of ``pipeline.extract_stage``; ``F.explode(tokens)`` is the
  ``next_token`` iteration.
- ``display_expr`` — the ``Display`` impl chain (token.rs:20-24, 82-86,
  163-181, 210-222) as pure built-in higher-order functions (JVM-side,
  no Python), replicating its quirks exactly:
    * Doctype displays literally ``<!DOCTYPE html>`` whatever its fields;
    * start tags print a trailing space after the name and after every
      ``name : value`` attribute pair, then ``/>`` or ``>``;
    * end tags print ``</name>`` — attributes and self-closing dropped;
    * comments ``<!--data-->``; chars verbatim; EOF empty.
- ``token_to_display`` — the pure-Python twin (tested equal to the Spark
  expression on the fixture corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

# structural parity with the reference Attribute (token.rs:1-7): prefix
# and namespace exist but are dead fields — Attribute::new sets them to
# "" and no tokenizer state ever writes them, so they are constant ""
ATTR = StructType(
    [
        StructField("name", StringType()),
        StructField("value", StringType()),
        StructField("prefix", StringType()),
        StructField("namespace", StringType()),
    ]
)

TOKEN = StructType(
    [
        StructField("kind", StringType()),
        StructField("name", StringType()),
        StructField("data", StringType()),
        StructField("self_closing", BooleanType()),
        StructField("attrs", ArrayType(ATTR)),
        StructField("public_id", StringType()),
        StructField("system_id", StringType()),
        StructField("force_quirks", BooleanType()),
    ]
)

TOKENS = ArrayType(TOKEN)


def _token_rows(toks) -> list:
    """The tokenizer's tuples as ``TOKEN`` rows."""
    out = []
    for t in toks:
        kind = t[0]
        if kind == "chars":
            out.append(("chars", None, t[1], None, None, None, None, None))
        elif kind == "start" or kind == "end":
            out.append(
                (
                    kind,
                    t[1],
                    None,
                    t[3],
                    [(a[0], a[1], "", "") for a in t[2]],
                    None,
                    None,
                    None,
                )
            )
        elif kind == "comment":
            out.append(("comment", None, t[1], None, None, None, None, None))
        elif kind == "doctype":
            out.append(("doctype", t[1], None, None, None, t[2], t[3], t[4]))
        else:
            out.append(("eof", None, None, None, None, None, None, None))
    return out


def display_expr(tokens: Column) -> Column:
    """Concatenate the Display serialization of a token-array column —
    entirely with built-in higher-order functions (stays in codegen)."""

    def one(t: Column) -> Column:
        attrs_str = F.concat_ws(
            "",
            F.transform(
                F.coalesce(t["attrs"], F.array()),
                lambda a: F.concat(a["name"], F.lit(" : "), a["value"], F.lit(" ")),
            ),
        )
        return (
            F.when(t["kind"] == "chars", t["data"])
            .when(t["kind"] == "doctype", F.lit("<!DOCTYPE html>"))
            .when(t["kind"] == "comment", F.concat(F.lit("<!--"), t["data"], F.lit("-->")))
            .when(
                t["kind"] == "start",
                F.concat(
                    F.lit("<"),
                    t["name"],
                    F.lit(" "),
                    attrs_str,
                    F.when(t["self_closing"], F.lit("/>")).otherwise(F.lit(">")),
                ),
            )
            .when(t["kind"] == "end", F.concat(F.lit("</"), t["name"], F.lit(">")))
            .otherwise(F.lit(""))  # eof
        )

    # concat_ws over a transformed array is linear in total output size;
    # an aggregate+concat fold re-copies the accumulator per token (O(n²)
    # string bytes on long token arrays)
    return F.concat_ws("", F.transform(tokens, one))


def token_to_display(tok) -> str:
    """Pure-Python Display twin over the tokenizer's tuple model."""
    kind = tok[0]
    if kind == "chars":
        return tok[1]
    if kind == "doctype":
        return "<!DOCTYPE html>"
    if kind == "comment":
        return f"<!--{tok[1]}-->"
    if kind == "start":
        attrs = "".join(f"{a[0]} : {a[1]} " for a in tok[2])
        return f"<{tok[1]} {attrs}{'/>' if tok[3] else '>'}"
    if kind == "end":  # a self-closing end tag prints as </name> too
        return f"</{tok[1]}>"
    return ""  # eof


def stream_to_display(tokens) -> str:
    return "".join(token_to_display(t) for t in tokens)
