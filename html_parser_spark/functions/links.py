"""Hyperlink harvesting from the reference-verified token stream.

Web-scale corpora need the link graph (outlink URLs + anchor text) as
much as the main text: URL frontiers, PageRank-style quality priors, and
anchor-text training signals all start here.  The reference crate stops
at tokenization (like the main-content policy in ``extract.py``), so the
LINK policy is OUR deterministic contract over its token stream:

1. A start tag ``a`` carrying an ``href`` attribute opens a link; the
   href value is the tokenizer's entity-DECODED attribute value (char
   refs in URLs — ``&amp;`` in query strings — are already resolved by
   the tokenizer's one character-reference scan, ``_char_ref``).
2. Character tokens while a link is open accumulate into its anchor
   text, verbatim (entity-decoded by the tokenizer).
3. ``</a>`` closes the link.  A new ``<a>`` start tag while one is open
   implies closing the current link first (HTML tree construction's
   in-body ``<a>`` rule, WHATWG §13.2.6.4.2 — tokenizer-level variant).
   EOF closes an open link with whatever text accumulated.
4. Self-closing ``<a href=x/>`` emits an empty-anchor link immediately
   (self-closing tags bypass the element stack, like the tokenizer).
5. ``<a>`` without href opens NO link but still implies-close the
   current one (it's still an anchor element); its text is not anchor
   text of the outer link.
6. Duplicate href attributes: the first occurrence wins (the
   tokenizer's attribute list preserves source order).

Spans: ``src_start`` is the source offset of the opening tag's first
character-token run inside the link (the anchor text's provenance);
links with empty anchors have src_start = src_end = -1.
"""

from __future__ import annotations

from .tokenizer import tokenize


def extract_links(text: str) -> list:
    """Tokenize ``text`` and harvest links.

    Returns a list of dicts: {link_idx, href, anchor_text, src_start,
    src_end} in document order."""
    tokens, _status, _err = tokenize(text)
    return links_from_tokens(tokens)


def links_from_tokens(tokens) -> list:
    links: list = []
    # open link state: [href, [text parts], src_start, src_end]
    cur: list | None = None

    def close():
        nonlocal cur
        if cur is not None:
            links.append(
                {
                    "link_idx": len(links),
                    "href": cur[0],
                    "anchor_text": "".join(cur[1]),
                    "src_start": cur[2],
                    "src_end": cur[3],
                }
            )
            cur = None

    for tok in tokens:
        kind = tok[0]
        if kind == "chars":
            if cur is not None:
                cur[1].append(tok[1])
                if len(tok) > 3:  # reference-golden streams carry no spans
                    if cur[2] < 0:
                        cur[2] = tok[2]
                    cur[3] = tok[3]
        elif kind == "start" and tok[1] == "a":
            close()
            href = next((v for (n, v) in tok[2] if n == "href"), None)
            if href is None:
                continue
            if tok[3]:  # self-closing: empty anchor, no stack interaction
                links.append(
                    {
                        "link_idx": len(links),
                        "href": href,
                        "anchor_text": "",
                        "src_start": -1,
                        "src_end": -1,
                    }
                )
            else:
                cur = [href, [], -1, -1]
        elif kind == "end" and tok[1] == "a":
            close()
        elif kind == "eof":
            close()
            break
    return links
