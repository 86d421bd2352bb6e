"""Differential harness: run inputs through the compiled reference probe and
through our Python tokenizer, compare coalesced token streams.

The probe (see build_probe.sh / probe_main.rs) speaks base64-in / JSON-out,
one input per line.  Every interaction is timeout-guarded because three
reference states hang at EOF (SURVEY.md §4.1); on a timeout the probe process
is killed and restarted, and the case is recorded as ``hang`` — which must
agree with our tokenizer's ``parse_status == 'hang_in_reference'``.
"""

from __future__ import annotations

import base64
import json
import os
import selectors
import subprocess
import sys

PROBE = os.environ.get("REF_PROBE", "/tmp/refprobe/refcrate/target/release/probe")
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
BUILD_SH = os.path.join(HERE, "build_probe.sh")

# Input alphabets shared by the hypothesis differential
# (tests/test_differential_hypothesis.py) and the frozen tokenizer oracle
# (gen_tokenizer_oracle.py): inputs are joined runs of these atoms.
MARKUP_ATOMS = list("<>&;#!-/='\"[]()?abpqxZA \t\n\r\x0c\x000159é💡�") + [
    "amp", "AMP", "lt;", "gt", "frac12;", "Aacute", "nbsp;", "zzz;",
    "<!--", "-->", "]]>", "<![CDATA[", "<!DOCTYPE", "<!doctype",
    "PUBLIC", "SYSTEM", "<div", "</div>", "<br/>", "id=", "class=\"x\"",
    "&#x", "&#", "10FFFF", "D800",
]
# for the RCDATA / RAWTEXT / script-data / PLAINTEXT / CDATA entry states
CONTENT_ATOMS = list("<>&;/-!abptix \t\n\x00é") + [
    "</title", "</style", "</script", "</xmp", "<!--", "-->", "--!>",
    "<script", "script>", "]]>", "]]", "]", "&amp;", "&#65;", "&not",
    "<!--<script>", "</script>-->", "</ti tle>", "/>", "</TITLE>",
    "<sCrIpT>", "</script x=y>", "</script/>", "</script >",
]


# probe protocol v3 adds DISPLAY requests; rebuild stale binaries
def ensure_probe() -> str:
    marker = os.path.join(
        os.path.dirname(PROBE), "..", "..", "..", "protocol_v3"
    )
    if not (os.path.exists(PROBE) and os.path.exists(os.path.normpath(marker))):
        subprocess.run(["bash", BUILD_SH], check=True, capture_output=True)
    return PROBE


class RefProbe:
    """Keeps one probe subprocess alive; restarts it after a hang/crash."""

    def __init__(self, timeout: float = 5.0):
        self.timeout = timeout
        self.proc: subprocess.Popen | None = None

    def _start(self):
        self.proc = subprocess.Popen(
            [ensure_probe()],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
        )

    def _kill(self):
        if self.proc is not None:
            self.proc.kill()
            self.proc.wait()
            self.proc = None

    def tokenize(self, text: str, state: str | None = None):
        """Return (tokens|None, status) — status in {'ok','hang','panic'}.

        ``state`` selects a content entry state (protocol v2):
        RCDATA / RAWTEXT / ScriptData / PLAINTEXT / CDATASection."""
        if self.proc is None or self.proc.poll() is not None:
            self._kill()
            self._start()
        p = self.proc
        line = base64.b64encode(text.encode("utf-8")) + b"\n"
        if state is not None:
            line = state.encode("ascii") + b" " + line
        try:
            p.stdin.write(line)
            p.stdin.flush()
        except BrokenPipeError:
            self._kill()
            return None, "panic"
        sel = selectors.DefaultSelector()
        sel.register(p.stdout, selectors.EVENT_READ)
        buf = b""
        import time

        deadline = time.monotonic() + self.timeout
        while b"\n" not in buf:
            remaining = deadline - time.monotonic()
            if remaining <= 0 or not sel.select(remaining):
                sel.close()
                self._kill()
                return None, "hang"
            chunk = os.read(p.stdout.fileno(), 65536)
            if not chunk:  # EOF: process died (panic)
                sel.close()
                self._kill()
                return None, "panic"
            buf += chunk
        sel.close()
        out = buf.split(b"\n", 1)[0]
        return json.loads(out), "ok"

    def display(self, text: str):
        """Return (display_string|None, status): the reference binary's own
        ``Display`` serialization of the full token stream (probe v3
        ``DISPLAY`` request — the output line is one JSON string, so the
        shared request path parses it directly)."""
        return self.tokenize(text, "DISPLAY")

    def close(self):
        self._kill()


def py_tokens_to_golden(tokens) -> list:
    """Convert tokenizer.py tuples to the golden JSON shape (drop spans)."""
    out = []
    for t in tokens:
        kind = t[0]
        if kind == "chars":
            out.append(["chars", t[1]])
        elif kind in ("start", "end"):
            out.append([kind, t[1], [list(a) for a in t[2]], t[3]])
        elif kind == "comment":
            out.append(["comment", t[1]])
        elif kind == "doctype":
            out.append(["doctype", t[1], t[2], t[3], t[4]])
        elif kind == "eof":
            out.append(["eof"])
    return out


def _py_state(name: str | None) -> int:
    from html_parser_spark.functions import tokenizer as tk

    return {
        None: tk.DATA,
        "RCDATA": tk.RCDATA,
        "RAWTEXT": tk.RAWTEXT,
        "ScriptData": tk.SCRIPT_DATA,
        "PLAINTEXT": tk.PLAINTEXT,
        "CDATASection": tk.CDATA_SECTION,
    }[name]


def compare_one(probe, text, state: str | None = None):
    """Compare one input on an existing probe; returns (ok, detail).

    ``state``: optional content entry state name (see RefProbe.tokenize);
    both engines enter the same state."""
    sys.path.insert(0, REPO)
    from html_parser_spark.functions.tokenizer import tokenize

    ref_toks, ref_status = probe.tokenize(text, state)
    py_toks, py_status, _err = tokenize(text, _py_state(state))
    py_golden = py_tokens_to_golden(py_toks)
    if ref_status == "hang":
        ok = py_status == "hang_in_reference"
        return ok, None if ok else (text, "ref hang, py " + py_status, None, py_golden)
    if ref_status == "panic":
        ok = py_status == "panic_in_reference"
        return ok, None if ok else (text, "ref panic, py " + py_status, None, py_golden)
    ok = py_status == "ok" and py_golden == ref_toks
    return ok, None if ok else (text, f"py status={py_status}", ref_toks, py_golden)


def compare_corpus(texts, timeout: float = 5.0, verbose: bool = False):
    """Differential run; returns (n_match, mismatches list)."""
    probe = RefProbe(timeout=timeout)
    mismatches = []
    n_match = 0
    try:
        for idx, text in enumerate(texts):
            state = None
            if isinstance(text, tuple):  # (state_name, text) items
                state, text = text
            ok, detail = compare_one(probe, text, state)
            if ok:
                n_match += 1
            else:
                mismatches.append((idx, *detail))
                if verbose:
                    print(f"MISMATCH #{idx}: {text!r}")
                    print("  ref:", json.dumps(detail[2], ensure_ascii=False)[:400])
                    print("  py :", json.dumps(detail[3], ensure_ascii=False)[:400])
    finally:
        probe.close()
    return n_match, mismatches
