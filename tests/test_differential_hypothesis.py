"""Hypothesis-driven differential against the COMPILED REFERENCE BINARY.

Stronger than the fixture-grammar goldens: hypothesis explores the input
space adversarially (shrinking to minimal counterexamples on failure).
Requires the offline cargo probe build (tools/golden_gen/build_probe.sh,
SURVEY.md §5.3) — the whole module skips if cargo is unavailable.

Hang-suffix inputs are fine to generate: the harness classifies inputs
our engine flags ``hang_in_reference``/``panic_in_reference`` and treats
reference timeout/death on them as a match (documented divergence).
"""

import os
import subprocess
import sys

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "golden_gen"))

from diff_runner import CONTENT_ATOMS, MARKUP_ATOMS  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe_ready() -> bool:
    try:
        out = subprocess.run(
            ["bash", os.path.join(REPO, "tools", "golden_gen", "build_probe.sh")],
            capture_output=True,
            text=True,
            timeout=300,
        )
        return out.returncode == 0
    except Exception:
        return False


pytestmark = pytest.mark.skipif(
    not _probe_ready(), reason="reference probe build unavailable"
)


@pytest.fixture(scope="module")
def ref():
    from diff_runner import RefProbe  # noqa: E402

    p = RefProbe(timeout=5.0)
    yield p
    p.close()


_atoms = st.sampled_from(MARKUP_ATOMS)
markupish = st.lists(_atoms, min_size=0, max_size=30).map("".join)


@given(markupish)
@settings(
    max_examples=500,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_token_stream_matches_reference(ref, s):
    from diff_runner import compare_one  # noqa: E402

    ok, detail = compare_one(ref, s)
    assert ok, detail


# ---- content entry states (probe protocol v2) ----------------------------
# The RCDATA/RAWTEXT/script-data/PLAINTEXT/CDATA families are unreachable
# from Data in the tokenizer-only reference; probe v2 enters them directly
# (build_probe.sh appends new_in_state to the COPIED crate), giving these
# 27 states true binary differentials instead of code-reading tests.

_entry_states = st.sampled_from(
    ["RCDATA", "RAWTEXT", "ScriptData", "PLAINTEXT", "CDATASection"]
)

_content_atoms = st.sampled_from(CONTENT_ATOMS)
contentish = st.lists(_content_atoms, min_size=0, max_size=25).map("".join)


@given(_entry_states, contentish)
@settings(
    max_examples=400,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_content_states_match_reference(ref, state, s):
    from diff_runner import compare_one  # noqa: E402

    ok, detail = compare_one(ref, s, state)
    assert ok, (state, detail)
