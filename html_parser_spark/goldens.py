"""Committed reference-binary gate goldens → DuckDB-readable parquet.

The goldens are generated by ``tools/golden_gen/gen_gate_goldens.py`` from
the compiled reference binary (full-token-stream + Display equality is
asserted per row at generation time — see that file's provenance notes)
and committed as ``tests/fixtures/golden_gate_sf{sf}.jsonl.gz``.  This
module converts them once per scale factor into a parquet whose column
types match the Spark queries exactly (int32 where Spark emits
IntegerType), so the driver's DuckDB oracle can ``read_parquet`` it — no
cargo/rust needed at gate time.
"""

from __future__ import annotations

import gzip
import json
import os

from .fixtures import data_dir

_FIXDIR = os.path.join(os.path.dirname(__file__), "..", "tests", "fixtures")

_INT32 = (
    "turn_idx", "err_count", "n_tokens", "n_blocks", "n_kept_blocks",
    "link_idx", "src_start", "src_end",
)
_INT64 = ("n_chars", "n_start", "n_end", "n_comment", "n_doctype", "n_eof")

_GATE_COLS = (
    "conv_id", "turn_idx", "main_text", "spans_json", "parse_status",
    "display_md5", "err_count", "n_tokens", "n_blocks", "n_kept_blocks",
    *_INT64,
)
_DOM_COLS = (
    "conv_id", "turn_idx", "main_text", "spans_json", "parse_status",
    "err_count", "n_blocks", "n_kept_blocks",
)
_LINK_COLS = (
    "conv_id", "turn_idx", "link_idx", "href", "anchor_text",
    "src_start", "src_end",
)


def _materialize(sf: float, stem: str, columns: tuple, hint: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(data_dir(), f"goldens_sf{sf}")
    path = os.path.join(out_dir, f"{stem}.parquet")
    if os.path.exists(path):
        return path
    src = os.path.normpath(os.path.join(_FIXDIR, f"{stem}_sf{sf}.jsonl.gz"))
    if not os.path.exists(src):
        raise FileNotFoundError(
            f"no committed goldens for sf{sf}: {src} — run {hint}"
        )
    cols: dict[str, list] = {k: [] for k in columns}
    with gzip.open(src, "rt", encoding="utf-8") as f:
        for line in f:
            row = json.loads(line)
            for k in cols:
                cols[k].append(row[k])
    fields = [
        (k, pa.int32() if k in _INT32 else pa.int64() if k in _INT64 else pa.string())
        for k in columns
    ]
    table = pa.Table.from_pydict(cols, schema=pa.schema(fields))
    os.makedirs(out_dir, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=8192)
    os.replace(tmp, path)
    return path


def gate_golden_parquet(sf: float) -> str:
    """Reference-binary goldens (token path) parquet for ``sf``."""
    return _materialize(
        sf, "golden_gate", _GATE_COLS,
        "tools/golden_gen/gen_gate_goldens.py (needs the reference probe)",
    )


def dom_golden_parquet(sf: float) -> str:
    """Engine goldens (DOM path — no reference twin exists) for ``sf``."""
    return _materialize(
        sf, "golden_dom", _DOM_COLS,
        "tools/golden_gen/gen_dom_goldens.py",
    )


def link_golden_parquet(sf: float) -> str:
    """Engine goldens (link harvest — no reference twin) for ``sf``."""
    return _materialize(
        sf, "golden_links", _LINK_COLS,
        "tools/golden_gen/gen_link_goldens.py",
    )
