"""Single-process per-layer pass over a seeded sample of a workload's turns.

One thread calls each public layer function in turn, with a span around
every call, so each layer's self time is measured where the work happens:

    tokenize -> extract_from_tokens                 (main-text policy)
             -> build_tree -> dom_extract_from_tree (DOM policy)
             -> links_from_tokens                   (link harvest)

Every layer runs on every workload, so a layer's cost can be compared
across inputs.  Cyclic-GC pauses are recorded with ``gc.callbacks``.
The sample is run once untimed first, so the tokenizer's memos are as
warm as in a long-lived Spark worker.
"""

from __future__ import annotations

import gc
import random
import time
from contextlib import nullcontext

from spans import Tracer, self_times

# layers each workload's job runs, for its single-process baseline
JOB_LAYERS = {
    "extract": ("tokenizer", "extract"),
    "dom": ("tokenizer", "treebuilder", "domextract"),
    "linkgraph": ("tokenizer", "links"),
}


def sample_keys(cols: dict, n: int, seed: int) -> list:
    idx = sorted(random.Random(seed).sample(range(len(cols["text"])),
                                            min(n, len(cols["text"]))))
    return [(cols["conv_id"][i], cols["turn_idx"][i], cols["text"][i]) for i in idx]


class _GcClock:
    def __init__(self):
        self.pause_s = 0.0
        self.gen2 = 0
        self._t = 0.0

    def __call__(self, phase: str, info: dict) -> None:
        if phase == "start":
            self._t = time.perf_counter()
        else:
            self.pause_s += time.perf_counter() - self._t
            self.gen2 += info["generation"] == 2


def _walk(texts, span) -> list:
    from html_parser_spark.functions.domextract import dom_extract_from_tree
    from html_parser_spark.functions.extract import extract_from_tokens
    from html_parser_spark.functions.links import links_from_tokens
    from html_parser_spark.functions.tokenizer import tokenize
    from html_parser_spark.functions.treebuilder import build_tree

    out = []
    for text in texts:
        with span("tokenizer"):
            tokens, status, err = tokenize(text)
        with span("extract"):
            r = extract_from_tokens(tokens, status, err)
        with span("treebuilder"):
            doc = build_tree(tokens)
        with span("domextract"):
            d = dom_extract_from_tree(doc, status, err)
        with span("links"):
            lk = links_from_tokens(tokens)
        out.append((len(tokens), r, d, len(lk)))
    return out


def _counts(outputs: list) -> dict:
    return {
        "tokens": sum(o[0] for o in outputs),
        "blocks": sum(o[1]["n_blocks"] for o in outputs),
        "kept": sum(o[1]["n_kept_blocks"] for o in outputs),
        "dom_blocks": sum(o[2]["n_blocks"] for o in outputs),
        "dom_kept": sum(o[2]["n_kept_blocks"] for o in outputs),
        "links": sum(o[3] for o in outputs),
    }


def _nospan(name):
    return nullcontext()


def run(workload: str, texts: list, run_id: str):
    """(per-layer metrics, token count, spans) of one timed pass over
    ``texts``."""
    _walk(texts, _nospan)
    tracer = Tracer(run_id)
    clock = _GcClock()
    gc.collect()
    gc.callbacks.append(clock)
    try:
        with tracer.span("single_process.pass") as root:
            outputs = _walk(texts, tracer.span)
    finally:
        gc.callbacks.remove(clock)
    c = _counts(outputs)
    st = self_times(tracer.spans)
    wall = root["end"] - root["start"]
    n = len(texts)
    job_s = sum(st[k] for k in JOB_LAYERS[workload])
    metrics = {
        "tokenizer.self_s": st["tokenizer"],
        "tokenizer.tokens_per_s": c["tokens"] / st["tokenizer"],
        "extract.self_s": st["extract"],
        "extract.kept_block_ratio": c["kept"] / max(1, c["blocks"]),
        "treebuilder.self_s": st["treebuilder"],
        "domextract.self_s": st["domextract"],
        "domextract.kept_block_ratio": c["dom_kept"] / max(1, c["dom_blocks"]),
        "links.self_s": st["links"],
        "links.per_turn": c["links"] / n,
        "gc.pause_s": clock.pause_s,
        "gc.gen2_collections": clock.gen2,
        "single_process.turns_per_s": n / job_s,
        "single_process.layer_coverage": (wall - st["single_process.pass"]) / wall,
    }
    return metrics, c["tokens"], tracer.spans
