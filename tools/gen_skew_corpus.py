#!/usr/bin/env python3
"""Adversarial-skew transcript corpus at equal bytes (VERDICT r4 item 7).

Rewrites an existing uniform transcript corpus into a worst-case-skew
variant with (approximately) the same total text bytes, so a corpus-job
wall-clock A/B isolates the SKEW mechanisms rather than data volume:

- **conv_id hot key**: a seeded ~10% of all turns are reassigned to ONE
  conversation (``c_hot_0``, turn_idx renumbered in stable original
  order).  Without salting, every one of those turns lands in a single
  shuffle partition under conv_id keying — the exact hazard the
  pipeline's salted explicit-count repartition exists for.
- **10⁴-deep exact-duplicate group**: a seeded sample of ``DUP_DEPTH``
  OTHER turns get their text replaced by one fixed donor text chosen
  with length closest to the corpus MEAN length (so total bytes move
  only by sampling noise).  Downstream these become one exact-dup
  document group 10⁴ deep — the input shape whose k²/2 clique
  disk-killed sf10 before the round-4 exact-text collapse.

Deterministic for a given input (``SEED`` fixes both samples).  Prints
a JSON line with byte totals for both corpora; the A/B protocol
(BENCH.md round 5) runs ``tools/submit/corpus_job.py`` on the original
and the rewrite back-to-back in one host window with ceiling stamps.

Usage: python3 tools/gen_skew_corpus.py IN_DIR OUT_DIR
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random

# share of all turns moved into the hot conversation, depth of the
# exact-duplicate group, and the seed of both samples
HOT_FRAC = 0.10
DUP_DEPTH = 10_000
SEED = 20250821


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("in_dir")
    ap.add_argument("out_dir")
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(args.in_dir, "*.parquet")))
    if not files:
        raise SystemExit(f"no parquet under {args.in_dir}")
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    rows = tbl.to_pylist()
    # stable global order — the rewrite must not depend on file layout
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    n = len(rows)
    bytes_in = sum(len(r["text"].encode()) for r in rows)
    mean_len = bytes_in / n

    rng = random.Random(SEED)
    # donor text: closest byte length to the corpus mean, so replacing a
    # uniform sample with it preserves expected total bytes
    donor = min(rows, key=lambda r: abs(len(r["text"].encode()) - mean_len))[
        "text"
    ]

    idx = list(range(n))
    rng.shuffle(idx)
    n_hot = int(n * HOT_FRAC)
    hot = sorted(idx[:n_hot])
    dup = idx[n_hot : n_hot + DUP_DEPTH]

    for t in dup:
        rows[t]["text"] = donor
    for k, t in enumerate(hot):
        rows[t]["conv_id"] = "c_hot_0"
        rows[t]["turn_idx"] = k

    bytes_out = sum(len(r["text"].encode()) for r in rows)
    os.makedirs(args.out_dir, exist_ok=True)
    out = pa.Table.from_pylist(rows, schema=tbl.schema)
    # shard like the input so scan parallelism is comparable
    n_files = max(len(files), 1)
    per = (n + n_files - 1) // n_files
    for s in range(n_files):
        chunk = out.slice(s * per, per)
        if chunk.num_rows:
            pq.write_table(
                chunk,
                os.path.join(args.out_dir, f"part-{s:04d}.parquet"),
                row_group_size=50_000,
            )
    print(
        json.dumps(
            {
                "rows": n,
                "bytes_in": bytes_in,
                "bytes_out": bytes_out,
                "bytes_delta_pct": round(100 * (bytes_out - bytes_in) / bytes_in, 3),
                "hot_turns": n_hot,
                "dup_depth": len(dup),
                "donor_len": len(donor.encode()),
            }
        )
    )


if __name__ == "__main__":
    main()
