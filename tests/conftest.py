import gzip
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXDIR = os.path.join(REPO, "tests", "fixtures")


def load_jsonl(name):
    path = os.path.join(FIXDIR, name)
    opener = gzip.open if name.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


@pytest.fixture(scope="session")
def probe_cases():
    return load_jsonl("probe_cases.jsonl")


@pytest.fixture(scope="session")
def golden_sf0001():
    return load_jsonl("golden_sf0001.jsonl.gz")


@pytest.fixture(scope="session")
def spark():
    """local[*] session with the engine's tuned defaults (plans/session.py)."""
    from html_parser_spark.plans.session import get_spark

    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()



@pytest.fixture(scope="session")
def check_stage():
    """``check(out, texts, outputs)``: assert that the Spark frame
    ``out`` of ``pipeline.extract_stage(..., outputs)`` has the stage's
    public columns and, for every row, the values the single-process
    ``extract`` / ``dom_extract`` / ``extract_links`` give for its text
    (``texts`` maps (conv_id, turn_idx) → text).  The expectation shares
    no code with the Spark stage."""
    from functools import lru_cache

    from html_parser_spark.functions.domextract import dom_extract
    from html_parser_spark.functions.extract import extract
    from html_parser_spark.functions.links import extract_links

    null = {"main_text": "", "spans": [], "err_count": 0,
            "parse_status": "null_input", "n_tokens": 0, "n_blocks": 0,
            "n_kept_blocks": 0}

    @lru_cache(maxsize=None)
    def policies(text):
        if text is None:
            return null, null, []
        links = [
            (r["link_idx"], r["href"], r["anchor_text"], r["src_start"],
             r["src_end"])
            for r in extract_links(text)
        ]
        return extract(text), dom_extract(text), links

    def expected(text, outputs):
        m, d, links = policies(text)
        row = {}
        if "main" in outputs:
            row.update(
                main_text=m["main_text"],
                spans=[tuple(s[:2]) for s in m["spans"]],
                err_count=m["err_count"],
                parse_status=m["parse_status"],
                n_tokens=m["n_tokens"],
                n_blocks=m["n_blocks"],
                n_kept_blocks=m["n_kept_blocks"],
            )
        if "dom" in outputs:
            p = "dom_" if "main" in outputs else ""
            row.update({
                f"{p}main_text": d["main_text"],
                f"{p}spans": [tuple(s[:2]) for s in d["spans"]],
                "err_count": d["err_count"],
                "parse_status": d["parse_status"],
                f"{p}n_blocks": d["n_blocks"],
                f"{p}n_kept_blocks": d["n_kept_blocks"],
            })
        if "links" in outputs:
            row["links"] = links
        return row

    def check(out, texts, outputs):
        want_cols = ["conv_id", "turn_idx", *expected("", outputs)]
        assert out.columns == want_cols
        got = out.collect()
        assert sorted((r.conv_id, r.turn_idx) for r in got) == sorted(texts)
        for r in got:
            key = (r.conv_id, r.turn_idx)
            row = {
                k: [tuple(x) for x in v] if isinstance(v, list) else v
                for k, v in r.asDict().items()
            }
            assert row == {
                "conv_id": key[0],
                "turn_idx": key[1],
                **expected(texts[key], outputs),
            }, key

    return check
