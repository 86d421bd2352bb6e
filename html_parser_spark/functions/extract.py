"""Main-content extraction: token stream → (main_text, spans, metrics).

The reference repo stops at tokenization (its tree builder is an unchecked
README box — reference README.md:6), so the extraction policy below is OUR
deterministic, documented contract, in the Boilerpipe/jusText family of
published heuristics (see PAPERS.md):

1. Walk the token stream with an element stack.  The reference's stack
   filter (mod.rs:3756-3779) guarantees every kept end tag matches the most
   recent unclosed start tag, so the walk needs no error recovery.
2. Character data inside any *dropped container* (script, style, head, nav,
   aside, footer, form, template, noscript) is discarded.
3. Text accumulates into *blocks*, split at block-level element boundaries
   (p, div, h1-h6, li, br, table rows/cells, section, article, ...).
4. Each block is scored:
     - link_density  = chars under <a> / block chars        (jusText)
     - boiler container: any enclosing element whose class/id matches
       nav|menu|footer|sidebar|comment|share|ad|breadcrumb   (tag/class prior)
   A block is kept iff it has non-whitespace text, is not inside a boiler
   container, and link_density < 0.5.
5. ``main_text`` = kept block texts (stripped) joined by "\\n"; ``spans`` =
   the ``(start, end)`` source char ranges (offsets into the raw input) of
   the character runs that produced kept blocks.

Self-closing tags never touch the stack (mirroring the tokenizer).  Spans
are self-consistent artifacts of this engine: golden values are produced by
running THIS policy over reference-verified token streams (FIXTURES.md §2).
"""

from __future__ import annotations

import re

from .tokenizer import tokenize

# containers whose character data is never content
DROP_TAGS = frozenset(
    "script style head nav aside footer form template noscript iframe svg".split()
)

# element boundaries that terminate a text block
BLOCK_TAGS = frozenset(
    (
        "p div h1 h2 h3 h4 h5 h6 li ul ol br table thead tbody tr td th "
        "section article header blockquote pre hr main figure figcaption "
        "dl dt dd address body html"
    ).split()
)

_BOILER_CLASS = re.compile(
    r"nav|menu|footer|sidebar|side-bar|comment|share|social|ad[sv]?\b|advert|"
    r"breadcrumb|banner|cookie|popup|related|widget",
    re.IGNORECASE,
)

def _is_boiler(attrs) -> bool:
    for name, value in attrs:
        if name in ("class", "id") and value and _BOILER_CLASS.search(value):
            return True
    return False


def extract(text: str) -> dict:
    """Tokenize ``text`` and extract main content.

    Returns a dict with keys: main_text, spans (list of (start, end)),
    err_count, parse_status, n_tokens, n_blocks, n_kept_blocks.
    """
    tokens, status, err_count = tokenize(text)
    return extract_from_tokens(tokens, status, err_count)


def extract_from_tokens(tokens, status: str = "ok", err_count: int = 0) -> dict:
    """Extraction policy over an already-produced token stream.

    Split out so golden fixtures can run the same policy over token streams
    generated by the reference binary (self-consistent goldens).
    """
    drop_depth = 0
    link_depth = 0
    boiler_depth = 0
    stack: list = []  # (name, is_drop, is_link, is_boiler)

    blocks: list = []  # finalized (text, spans, link_chars, in_boiler)
    cur_text: list = []
    cur_spans: list = []
    cur_link_chars = 0
    cur_boiler = False

    def end_block():
        nonlocal cur_text, cur_spans, cur_link_chars, cur_boiler
        nonlocal ct_push, cs_push
        blocks.append(("".join(cur_text), cur_spans, cur_link_chars, cur_boiler))
        cur_text = []
        cur_spans = []
        ct_push = cur_text.append
        cs_push = cur_spans.append
        cur_link_chars = 0
        cur_boiler = False

    ct_push = cur_text.append
    cs_push = cur_spans.append
    # tokenize always ends the stream with its single eof token, so the
    # walked-token count is just the list length (golden streams from the
    # reference binary share that shape)
    n_tokens = len(tokens)
    for tok in tokens:
        kind = tok[0]
        if kind == "chars":
            if drop_depth == 0:
                data = tok[1]
                ct_push(data)
                # golden token streams from the reference binary carry no
                # source spans (["chars", data]) — tolerate both shapes
                if len(tok) > 3:
                    cs_push((tok[2], tok[3]))
                if link_depth > 0:
                    cur_link_chars += len(data)
                if boiler_depth > 0:
                    cur_boiler = True
            continue
        if kind == "start":
            name = tok[1]
            self_closing = tok[3]
            # with no text accumulated a block has nothing to finalize
            # (spans, link chars and boiler are set only alongside text)
            if name in BLOCK_TAGS and cur_text:
                end_block()
            if self_closing:
                continue  # bypasses the stack, like the tokenizer
            is_drop = name in DROP_TAGS
            is_link = name == "a"
            is_boiler = bool(tok[2]) and _is_boiler(tok[2])
            stack.append((name, is_drop, is_link, is_boiler))
            if is_drop:
                drop_depth += 1
            if is_link:
                link_depth += 1
            if is_boiler:
                boiler_depth += 1
            continue
        if kind == "end":
            name = tok[1]
            if name in BLOCK_TAGS and cur_text:
                end_block()
            # kept end tags always match the most recent unclosed start tag
            # (tokenizer stack filter) — but guard anyway
            if stack and stack[-1][0] == name:
                _, is_drop, is_link, is_boiler = stack.pop()
                if is_drop:
                    drop_depth -= 1
                if is_link:
                    link_depth -= 1
                if is_boiler:
                    boiler_depth -= 1
            continue
        if kind == "eof":
            if cur_text:
                end_block()
            break
        # comments/doctypes don't affect blocks

    main_parts: list = []
    spans: list = []
    n_kept = 0
    for btext, bspans, blink, bboiler in blocks:
        stripped = btext.strip()
        if not stripped:
            continue
        if bboiler:
            continue
        link_density = blink / max(1, len(stripped))
        if link_density >= 0.5:
            continue
        main_parts.append(stripped)
        spans.extend(bspans)
        n_kept += 1

    return {
        "main_text": "\n".join(main_parts),
        "spans": spans,
        "err_count": err_count,
        "parse_status": status,
        "n_tokens": n_tokens,
        "n_blocks": len(blocks),
        "n_kept_blocks": n_kept,
    }
