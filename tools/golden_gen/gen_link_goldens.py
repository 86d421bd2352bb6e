"""Generate committed link-harvest gate goldens.

Provenance: like the DOM goldens, these are ENGINE goldens — the
reference crate stops at tokenization and has no link stage, so the
single-process Python ``extract_links`` (over the reference-verified
tokenizer) is the truth, and the driver's DuckDB side checks that the
DISTRIBUTED Spark execution (salted repartition, Arrow array<struct>
batching, explode) reproduces it value-for-value.  The tokenizer pass
underneath IS reference-verified (golden_gate goldens + differential
suite), and href entity decoding rides on the tokenizer's ``_char_ref``
scan those cover.

Output (committed): tests/fixtures/golden_links_sf{sf}.jsonl.gz

Run: python3 tools/golden_gen/gen_link_goldens.py [sf ...]   (default
0.001 and 0.01)
"""

from __future__ import annotations

import gzip
import json
import multiprocessing as mp
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from html_parser_spark.fixtures import gen_rows  # noqa: E402

FIXDIR = os.path.join(REPO, "tests", "fixtures")


def _one(args):
    conv_id, turn_idx, text = args
    from html_parser_spark.functions.links import extract_links

    return [
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "link_idx": r["link_idx"],
            "href": r["href"],
            "anchor_text": r["anchor_text"],
            "src_start": r["src_start"],
            "src_end": r["src_end"],
        }
        for r in extract_links(text)
    ]


def main(sfs):
    os.makedirs(FIXDIR, exist_ok=True)
    with mp.Pool(min(24, os.cpu_count() or 8)) as pool:
        for sf in sfs:
            rows = [(r["conv_id"], r["turn_idx"], r["text"]) for r in gen_rows(sf)]
            out_path = os.path.join(FIXDIR, f"golden_links_sf{sf}.jsonl.gz")
            n = 0
            with gzip.open(out_path, "wt", encoding="utf-8") as f:
                for turn_links in pool.imap(_one, rows, chunksize=64):
                    for row in turn_links:
                        f.write(json.dumps(row, ensure_ascii=False) + "\n")
                        n += 1
            print(f"sf{sf}: wrote {n} link goldens ({out_path})")


if __name__ == "__main__":
    main([float(a) for a in sys.argv[1:]] or [0.001, 0.01])
