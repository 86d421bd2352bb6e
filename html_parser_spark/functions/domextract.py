"""DOM-heuristic main-content extraction: tree → scored blocks → text.

The second-generation extraction policy the north_star describes
(text-density, link-density, tag-class scoring over a real DOM), built
on :mod:`treebuilder`.  The token-stream policy in :mod:`extract`
remains the flagship (its goldens and driver rows are pinned); this
module adds the DOM-based scorer as a parallel, independently tested
operator in the Boilerpipe / jusText family (PAPERS.md):

1. The DOM is segmented into **blocks**: maximal runs of inline content
   under each block-level element (nested block elements start new
   blocks, as in §3 of the Boilerpipe paper's atomic text blocks).
2. Each block is scored:
   - ``text_density``  = non-ws chars / (1 + inline descendant tags) —
     chars-per-tag, the Boilerpipe-style density signal that separates
     prose (few tags, much text) from chrome (many tags, scraps),
   - ``link_density``  = chars under <a> / block chars       (jusText),
   - ``boiler``        = any ancestor-or-self whose class/id matches the
     boilerplate lexicon, or that is a dropped container
     (script/style/nav/aside/footer/…)                 (tag/class prior),
   - ``stopword_density`` = stopword tokens / tokens (jusText's context
     signal; multilingual union of the engine's langid lists) — reported
     per block by :func:`score_blocks` only; the keep decision stays on
     the three structural signals so existing goldens are stable.
3. A block is kept iff it has text, is not boiler, ``link_density <
   DEFAULT_MAX_LINK_DENSITY`` and ``text_density >=
   DEFAULT_MIN_TEXT_DENSITY``.
4. ``main_text`` = kept block texts joined by newline, document order.

Deterministic, whitespace-normalizing (runs collapse to one space, as
DOM text rendering would).
"""

from __future__ import annotations

import re

from .extract import BLOCK_TAGS, DROP_TAGS, _BOILER_CLASS
from .treebuilder import Element, parse_html
from .stopwords import STOP_DE, STOP_EN, STOP_ES, STOP_FR

_STOPWORDS = frozenset(STOP_EN) | frozenset(STOP_FR) | frozenset(STOP_DE) | frozenset(STOP_ES)

_WS_RUN = re.compile(r"\s+")

# one membership probe instead of two on the per-element segmentation path
_BLOCK_OR_DROP = BLOCK_TAGS | DROP_TAGS

DEFAULT_MIN_TEXT_DENSITY = 8.0  # chars per (1+tag); prose p ≈ 40-200
DEFAULT_MAX_LINK_DENSITY = 0.5


class _Block:
    __slots__ = ("parts", "spans", "link_chars", "tags", "boiler", "drop")

    def __init__(self, boiler: bool, drop: bool):
        self.parts: list[str] = []
        self.spans: list = []  # (start, end) source ranges of the parts
        self.link_chars = 0
        self.tags = 0
        self.boiler = boiler
        self.drop = drop

    def text(self) -> str:
        # split()/join ≡ _WS_RUN.sub(" ", …).strip(): re \s and
        # str.isspace match the same codepoint set (checked exhaustively
        # over all 0x110000 codepoints, BENCH.md round-4 continuation)
        return " ".join("".join(self.parts).split())


def _is_boiler_el(el: Element) -> bool:
    for name, value in el.attrs:
        if name in ("class", "id") and value and _BOILER_CLASS.search(value):
            return True
    return False


def _segment(
    el: Element,
    boiler: bool,
    drop: bool,
    in_link: bool,
    blocks: list,
    cur: _Block,
):
    """Depth-first block segmentation; returns the open block."""
    for child in el.children:
        if isinstance(child, str):
            cur.parts.append(child)
            # Text nodes carry the tokenizer's source ranges (treebuilder
            # .Text) — the DOM path's provenance, same spans contract as
            # the flagship; golden streams without offsets contribute none
            cur.spans.extend(getattr(child, "spans", ()))
            if in_link:
                cur.link_chars += len(child)
            continue
        tag = child.tag
        c_boiler = boiler or _is_boiler_el(child)
        c_drop = drop or tag in DROP_TAGS
        c_link = in_link or tag == "a"
        if tag in _BLOCK_OR_DROP:
            if cur.parts:
                blocks.append(cur)
            # a block element nested under an <a> is still link content —
            # its whole block inherits in_link (otherwise
            # <a><div>…</div></a> gets link_chars=0 and pure-link CTAs
            # are kept as prose)
            inner = _Block(c_boiler, c_drop)
            inner = _segment(child, c_boiler, c_drop, in_link, blocks, inner)
            if inner.parts:
                blocks.append(inner)
            cur = _Block(boiler, drop)
        else:
            cur.tags += 1
            cur = _segment(child, c_boiler, c_drop, c_link, blocks, cur)
    return cur


def _collect_blocks(doc: Element) -> list[_Block]:
    """Segment the DOM into raw ``_Block`` records (document order)."""
    blocks: list[_Block] = []
    root = _Block(False, False)
    root = _segment(doc, False, False, False, blocks, root)
    if root.parts:
        blocks.append(root)
    return blocks


def score_blocks(doc: Element) -> list[dict]:
    """Flatten the DOM into scored text blocks (document order), every
    signal of the module docstring per block, ``stopword_density``
    included.  This is the inspection form the tests pin the block
    scores through; the extraction path never calls it
    (:func:`dom_extract_from_tree` reads :func:`_collect_blocks`
    directly and skips the stopword pass, which the keep decision does
    not use)."""
    blocks = _collect_blocks(doc)
    out = []
    for b in blocks:
        text = b.text()
        if not text:
            continue
        n = len(text)
        toks = text.lower().split()
        stop_hits = sum(1 for w in toks if w in _STOPWORDS)
        stop_density = stop_hits / len(toks) if toks else 0.0
        out.append(
            {
                "text": text,
                "spans": list(b.spans),
                "n_chars": n,
                "n_tags": b.tags,
                "text_density": n / (1.0 + b.tags),
                "link_density": min(1.0, b.link_chars / n),
                "stopword_density": stop_density,
                "boiler": b.boiler or b.drop,
            }
        )
    return out


def dom_extract(text: str) -> dict:
    """Parse + tree-build + score.  Returns the same contract keys as
    :func:`extract.extract`: ``spans`` are the source character ranges of
    the tokenizer runs that landed in kept blocks, in document order —
    provenance offsets into the RAW input (the block text itself is
    whitespace-normalized, so spans locate, they don't slice)."""
    doc, status, err = parse_html(text)
    return dom_extract_from_tree(doc, status, err)


def dom_extract_from_tokens(tokens) -> dict:
    """DOM policy over an already-produced token stream — the seam the
    extraction stage (pipeline.extract_stage) uses so the token policy,
    the DOM policy, and the link harvest share one tokenize pass.
    Identical text, spans and block counts to :func:`dom_extract` on the
    same text's stream; the stage takes ``parse_status`` and
    ``err_count`` from the tokenizer, so they keep the tree defaults
    here."""
    from .treebuilder import build_tree

    return dom_extract_from_tree(build_tree(tokens))


def dom_extract_from_tree(doc: Element, status: str = "ok", err: int = 0) -> dict:
    # consume raw _Block records directly — same decisions as filtering
    # score_blocks output on the structural signals, without the
    # stopword pass or the per-block dict + spans copy the hot
    # extraction path never reads
    blocks = _collect_blocks(doc)
    parts: list[str] = []
    spans: list = []
    n_blocks = 0
    n_kept = 0
    for b in blocks:
        text = b.text()
        if not text:
            continue
        n_blocks += 1
        if b.boiler or b.drop:
            continue
        n = len(text)
        if min(1.0, b.link_chars / n) >= DEFAULT_MAX_LINK_DENSITY:
            continue
        if n / (1.0 + b.tags) < DEFAULT_MIN_TEXT_DENSITY:
            continue
        parts.append(text)
        spans.extend(b.spans)
        n_kept += 1
    return {
        "main_text": "\n".join(parts),
        "spans": spans,
        "err_count": err,
        "parse_status": status,
        "n_blocks": n_blocks,
        "n_kept_blocks": n_kept,
    }
