"""Frozen tokenizer oracle: every committed input must still tokenize to the
recorded digest of (tokens with spans, parse_status, err_count).

The fixture is written by ``tools/golden_gen/gen_tokenizer_oracle.py`` from
a tokenizer that matched the compiled reference binary.  It stands in for
the reference differential (``test_differential_hypothesis.py``) where the
probe cannot be built, and is regenerated only for an intentional change
the reference confirms.
"""

import collections
import gzip
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools", "golden_gen"))

from gen_tokenizer_oracle import (  # noqa: E402
    CONTENT_CASES,
    CONTENT_STATES,
    DATA_CASES,
    OUT,
    oracle_md5,
)


def test_tokenizer_matches_frozen_oracle():
    with gzip.open(OUT, "rt", encoding="utf-8") as f:
        rows = [json.loads(line) for line in f]
    per_state = collections.Counter(r["state"] for r in rows)
    assert per_state["DATA"] > DATA_CASES
    assert all(per_state[s] == CONTENT_CASES for s in CONTENT_STATES)
    differing = [r for r in rows if oracle_md5(r["text"], r["state"]) != r["md5"]]
    assert not differing, (
        f"{len(differing)} of {len(rows)} inputs differ from the oracle; first: "
        f"state={differing[0]['state']} text={differing[0]['text']!r}"
    )
