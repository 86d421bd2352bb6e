"""Generate committed DOM-path gate goldens.

Provenance: the reference crate stops at tokenization (its tree builder is
an unchecked README box), so there is NO reference twin for the DOM
extraction — these goldens are ENGINE goldens: the single-process Python
``dom_extract`` (tree builder + text-density scorer) run over the
deterministic gate corpora.  The driver's DuckDB side reading them checks
that the DISTRIBUTED Spark execution (partitioning, Arrow batching, UDF
plumbing) reproduces the single-process truth value-for-value — the
strongest oracle that can exist for this operator.  The tokenizer pass
underneath it IS reference-verified (golden_gate goldens + the
differential suite).

Output (committed): tests/fixtures/golden_dom_sf{sf}.jsonl.gz

Run: python3 tools/golden_gen/gen_dom_goldens.py [sf ...]   (default
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
    from html_parser_spark.functions.domextract import dom_extract

    r = dom_extract(text)
    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "main_text": r["main_text"],
        # byte-exact twin of Spark's F.to_json(array<struct<start,end>>)
        "spans_json": json.dumps(
            [{"start": s[0], "end": s[1]} for s in r["spans"]],
            separators=(",", ":"),
        ),
        "err_count": r["err_count"],
        "parse_status": r["parse_status"],
        "n_blocks": r["n_blocks"],
        "n_kept_blocks": r["n_kept_blocks"],
    }


def main(sfs):
    os.makedirs(FIXDIR, exist_ok=True)
    with mp.Pool(min(24, os.cpu_count() or 8)) as pool:
        for sf in sfs:
            rows = [(r["conv_id"], r["turn_idx"], r["text"]) for r in gen_rows(sf)]
            out_path = os.path.join(FIXDIR, f"golden_dom_sf{sf}.jsonl.gz")
            n = 0
            with gzip.open(out_path, "wt", encoding="utf-8") as f:
                for row in pool.imap(_one, rows, chunksize=64):
                    f.write(json.dumps(row, ensure_ascii=False) + "\n")
                    n += 1
            print(f"sf{sf}: wrote {n} DOM goldens ({out_path})")


if __name__ == "__main__":
    main([float(a) for a in sys.argv[1:]] or [0.001, 0.01])
