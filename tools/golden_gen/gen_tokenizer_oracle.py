"""Freeze the tokenizer's current behaviour as a committed regression oracle.

Each row of the output is one input, the entry state it is tokenized from,
and the md5 of ``repr(tokenize(text, state))`` — the token stream with its
source spans, ``parse_status`` and ``err_count``.
``tests/test_tokenizer_oracle.py`` re-tokenizes every row and compares the
digests, so tokenizer refactors and perf work have a gate even where the
compiled reference probe (``build_probe.sh``) cannot be built.  The inputs
are stored, so the check never depends on an RNG.

Three input sets:

- ``DATA_CASES`` seeded DATA-state inputs: runs of 0-30 atoms drawn from
  ``diff_runner.MARKUP_ATOMS`` (the hypothesis differential's alphabet).
  A third of them start with one of ``OPENERS``, so the deep states
  (doctype identifiers, attribute values, numeric references) are reached
  far more often than uniform atom runs reach them;
- ``CONTENT_CASES`` seeded inputs per content entry state (RCDATA,
  RAWTEXT, SCRIPT_DATA, PLAINTEXT, CDATA_SECTION): runs of 0-25 atoms from
  ``diff_runner.CONTENT_ATOMS``;
- every input of ``tests/fixtures/probe_cases.jsonl`` and
  ``hang_cases.jsonl``, from DATA.

Regenerate only for an intentional behaviour change that the compiled
reference confirms (``diff_runner.compare_corpus``), never to make the
oracle test pass.

Output (committed): tests/fixtures/tokenizer_oracle.jsonl.gz

Run: python3 tools/golden_gen/gen_tokenizer_oracle.py
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [REPO, HERE]

from diff_runner import CONTENT_ATOMS, MARKUP_ATOMS  # noqa: E402
from html_parser_spark.functions import tokenizer as tk  # noqa: E402

FIXDIR = os.path.join(REPO, "tests", "fixtures")
OUT = os.path.join(FIXDIR, "tokenizer_oracle.jsonl.gz")
SEED = 5
DATA_CASES = 50_000
CONTENT_CASES = 2_000
CONTENT_STATES = ("RCDATA", "RAWTEXT", "SCRIPT_DATA", "PLAINTEXT", "CDATA_SECTION")
OPENERS = (
    "<!DOCTYPE x PUBLIC", "<!DOCTYPE x SYSTEM", '<!DOCTYPE x PUBLIC "a"',
    "<!DOCTYPE x PUBLIC 'a'", "<!DOCTYPE x SYSTEM 'a'", '<div a="', "<div a='",
    "<div a=", "<div a", "&#", "&#x", "&", "<!--", "<!", "<![CDATA[", "</", "<?",
)


def oracle_md5(text: str, state: str) -> str:
    """md5 of the full tokenizer result for ``text`` entered in ``state``
    (a tokenizer state constant name, e.g. ``"DATA"``)."""
    result = tk.tokenize(text, getattr(tk, state))
    return hashlib.md5(repr(result).encode("utf-8", "surrogatepass")).hexdigest()


def _atom_runs(rng: random.Random, atoms, max_len: int, count: int, openers=()):
    """``count`` distinct inputs, each a run of 0..max_len random atoms,
    one in three behind a random opener when ``openers`` is given."""
    seen: set = set()
    out = []
    while len(out) < count:
        text = "".join(rng.choice(atoms) for _ in range(rng.randint(0, max_len)))
        if openers and rng.randrange(3) == 0:
            text = rng.choice(openers) + text
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def oracle_inputs():
    """[(state, text)] in fixture order."""
    rng = random.Random(SEED)
    cases = [("DATA", t) for t in _atom_runs(rng, MARKUP_ATOMS, 30, DATA_CASES, OPENERS)]
    for state in CONTENT_STATES:
        cases += [(state, t) for t in _atom_runs(rng, CONTENT_ATOMS, 25, CONTENT_CASES)]
    for name in ("probe_cases.jsonl", "hang_cases.jsonl"):
        with open(os.path.join(FIXDIR, name), encoding="utf-8") as f:
            cases += [("DATA", json.loads(line)["text"]) for line in f if line.strip()]
    return cases


def main():
    cases = oracle_inputs()
    # mtime=0: the same inputs and tokenizer give the same bytes
    with gzip.GzipFile(OUT, "wb", compresslevel=9, mtime=0) as raw:
        with io.TextIOWrapper(raw, encoding="utf-8") as f:
            for state, text in cases:
                row = {"state": state, "text": text, "md5": oracle_md5(text, state)}
                f.write(json.dumps(row) + "\n")
    print(f"{len(cases)} rows -> {OUT}")


if __name__ == "__main__":
    main()
