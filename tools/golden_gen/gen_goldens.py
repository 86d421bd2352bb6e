"""Generate committed golden fixtures from the compiled reference binary.

Outputs (committed under tests/fixtures/):
  probe_cases.jsonl      — curated quirk-pinning cases: text + reference
                           token stream (or hang/panic status)
  golden_sf0001.jsonl.gz — every sf0.001 transcript turn: (conv_id, turn_idx,
                           ref token stream, main_text from the extraction
                           policy applied to the REFERENCE stream)

Run: python3 tools/golden_gen/gen_goldens.py
"""

from __future__ import annotations

import gzip
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [REPO, HERE]

from diff_runner import RefProbe  # noqa: E402
from html_parser_spark.fixtures import gen_rows, HANG_CASES  # noqa: E402
from html_parser_spark.functions.extract import extract_from_tokens  # noqa: E402

FIXDIR = os.path.join(REPO, "tests", "fixtures")

CURATED = [
    # the reference's own unit tests (mod.rs:3831-3873)
    "<!--Hello World-->",
    "<!DOCTYPE html><html><head><title>Test</title></head><body>"
    "<h1>Hello World</h1></body></html>",
    # probe ledger (SURVEY.md §2 ✓probe)
    "<body><br></body>",
    "<!doctype html><p>x</p>",
    "a &amp; b",
    "&ampx",
    "&frac12;",
    "&#65;&#x41;&#153;",
    '<a href="x&amp;y">',
    '<a href="x&ampy">',
    "<p>x</div></p>",
    "<img src='a'/>",
    "<script>var a = 1 < 2;</script>",
    "<!-- c -->",
    "<p id=a id=b>",
    "<div><p>a</p><p>b</p></div>",
    "a\x00b",
    "<éx>",
    "a &amp",
    "a &AMPb",
    "<![CDATA[x]]>y",
    "<p/>x</p>",
    "<DIV>x</DIV>",
    'b="&amp="',
    "<p",
    "<!-",
    "&#x110000;&#0;&#xD800;",
    "</p id=3>",
    '<?xml version="1.0"?>',
    # extras pinned during round-1 differential work
    "<a b='&amp='>",
    "<a b=&ampx>",
    "&gtx",
    "&zzz;",
    "x&ampy",
    "<!DOCTYPA",
    "<!DoCtYpA",
    "<!-x",
    "<![CDATAx",
    "<!DOCTYPE html PUBLIC '-//W3C' 'sys'>",
    "<!DOCTYPE html SYSTEM \"s\">",
    "&#xG",
    "&#;",
    "a&#",
    "<!---->",
    "<!-->",
    "<!--<!--x-->",
    "&CounterClockwiseContourIntegral;",
    "&amp0",
    "&nbsp",
    "&ltx",
    # hang + panic families (status-only goldens)
    "<!",
    "<!--x-",
    "<!DOCTYPE html ",
    "&aaé x",
]


def main():
    os.makedirs(FIXDIR, exist_ok=True)
    probe = RefProbe(timeout=5.0)

    with open(os.path.join(FIXDIR, "probe_cases.jsonl"), "w") as f:
        for text in CURATED:
            toks, status = probe.tokenize(text)
            f.write(
                json.dumps(
                    {"text": text, "status": status, "tokens": toks},
                    ensure_ascii=False,
                )
                + "\n"
            )
    print(f"wrote {len(CURATED)} probe cases")

    n = 0
    with gzip.open(
        os.path.join(FIXDIR, "golden_sf0001.jsonl.gz"), "wt", encoding="utf-8"
    ) as f:
        for row in gen_rows(0.001):
            toks, status = probe.tokenize(row["text"])
            assert status == "ok", (status, row["conv_id"], row["turn_idx"])
            ext = extract_from_tokens(toks, status)
            f.write(
                json.dumps(
                    {
                        "conv_id": row["conv_id"],
                        "turn_idx": row["turn_idx"],
                        "tokens": toks,
                        "main_text": ext["main_text"],
                    },
                    ensure_ascii=False,
                )
                + "\n"
            )
            n += 1
    print(f"wrote {n} sf0.001 goldens")

    with open(os.path.join(FIXDIR, "hang_cases.jsonl"), "w") as f:
        for case_id, text in HANG_CASES:
            ref_toks, status = probe.tokenize(text)
            f.write(
                json.dumps(
                    {"case_id": case_id, "text": text, "ref_status": status},
                    ensure_ascii=False,
                )
                + "\n"
            )
    print("wrote hang cases")
    probe.close()


if __name__ == "__main__":
    main()
