"""WHATWG-style tree construction over the engine's token stream.

The reference stops at tokenization (its "tree builder" README box is
unchecked — reference README.md:6), so this module is built from scratch
against the public WHATWG HTML spec (§13.2.6 "Tree construction"),
covering the machinery the north_star names explicitly:

- **insertion modes** — initial / before_html / before_head / in_head /
  after_head / in_body / after_body (the body-content subset; frameset
  and template modes are out of scope for transcript corpora and
  documented as such),
- **stack of open elements** with the spec's special/formatting element
  categories, implied-end-tag handling (p, li, dd/dt, option, …) and
  "element in scope" checks,
- **active formatting elements** with the Noah's Ark clause (at most 3
  identical entries), markers, and the *reconstruction* algorithm
  (§13.2.6.3), so ``<p><b>x<i>y</p><p>z`` re-opens ``<b><i>`` in the
  second paragraph,
- the **adoption agency algorithm** (§13.2.6.4 "any other end tag" /
  mis-nested formatting) in its spec form, bounded by the spec's outer
  (8) and inner (3) loop limits.

- **foster parenting** (§13.2.6.1 appropriate-place, round 3): non-table
  content whose current node is a table/section/row is inserted
  immediately before the nearest open table (whitespace-only runs stay
  inside, per the pending-table-character-tokens rule); a nested
  ``<table>`` start closes the open table first, and ``</table>`` is
  matched in TABLE scope (html/table/template barriers only).

Deliberate simplifications (documented, deterministic):
- no template contents stack, no frameset-ok flag,
- script/style/RAWTEXT contents arrive as ORDINARY markup tokens
  because the tokenizer-only reference never leaves the Data state (its
  observed behavior — SURVEY.md §2.4); the builder therefore treats
  them as normal containers and downstream extraction drops them.

The builder consumes the tokenizer's tuple stream (functions/tokenizer
.py) and produces a lightweight DOM of ``Element`` nodes whose children
are ``Element`` or ``str`` (text).  Self-closing and void tags never
push onto the stack, mirroring the tokenizer's own stack discipline
(mod.rs:3756-3779).
"""

from __future__ import annotations

from .tokenizer import tokenize

# §13.2.6.4 "in body": void elements (also HTML's void set) — never pushed
VOID = frozenset(
    "area base basefont bgsound br col embed hr img input keygen link "
    "meta param source track wbr".split()
)

# the spec's formatting elements (active-formatting-elements candidates)
FORMATTING = frozenset("a b big code em font i nobr s small strike strong tt u".split())

# "special" category subset relevant to body content (§13.2 special list)
SPECIAL = frozenset(
    (
        "address applet area article aside base basefont bgsound blockquote "
        "body br button caption center col colgroup dd details dir div dl dt "
        "embed fieldset figcaption figure footer form frame frameset h1 h2 h3 "
        "h4 h5 h6 head header hgroup hr html iframe img input keygen li link "
        "listing main marquee menu meta nav noembed noframes noscript object "
        "ol p param plaintext pre script section select source style summary "
        "table tbody td template textarea tfoot th thead title tr track ul wbr"
    ).split()
)

# start tags that implicitly close an open <p> (§13.2.6.4 in-body)
P_CLOSERS = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl "
        "fieldset figcaption figure footer header hgroup main menu nav ol p "
        "section summary ul h1 h2 h3 h4 h5 h6 pre listing form table hr "
        "xmp li dd dt"
    ).split()
)

HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# scope-barrier element sets (§13.2.4.2 "has an element in scope")
_SCOPE_BARRIER = frozenset(
    "applet caption html table td th marquee object template".split()
)
_BUTTON_SCOPE_EXTRA = frozenset(["button"])
_LIST_SCOPE_EXTRA = frozenset(["ol", "ul"])
# pre-unioned barrier sets: the p/li scope checks run on EVERY
# block-level start tag, and a per-call frozenset union is measurable
_BUTTON_SCOPE_BARRIER = _SCOPE_BARRIER | _BUTTON_SCOPE_EXTRA
_LIST_SCOPE_BARRIER = _SCOPE_BARRIER | _LIST_SCOPE_EXTRA

# current-node tags that trigger foster parenting for non-table content
_FOSTER_CTX = frozenset(["table", "tbody", "thead", "tfoot", "tr"])

# C-level Text construction for the inlined _chars hot path (bypasses the
# Python-frame Text.__new__; the spans attribute is set by the caller)
_str_new = str.__new__
# C-level Element allocation for the inlined _insert_element hot path
# (fields are set by the caller, matching Element.__init__ exactly)
_el_new = object.__new__
_IMPLIED_END = frozenset(
    ["dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc"]
)

MARKER = object()  # active-formatting-elements marker sentinel


class Text(str):
    """A text node: a plain ``str`` (so every ``isinstance(child, str)``
    site and the html5lib-style dump behave unchanged) that additionally
    carries the source character ranges of the tokenizer runs that
    produced it — the provenance the flagship's ``spans`` contract
    exposes (array<struct<start,end>>), threaded through the DOM path
    too."""

    __slots__ = ("spans",)

    def __new__(cls, s: str, spans=()):
        t = super().__new__(cls, s)
        # both construction sites (_insert_text) pass a freshly-built
        # list the node owns outright — copy only non-list inputs
        t.spans = spans if type(spans) is list else list(spans)
        return t


class Element:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs=()):
        self.tag = tag
        # ownership: a list argument is taken AS-IS.  Every list that
        # reaches here is uniquely owned by its token (the tokenizer memo
        # rebuilds fresh attr lists per hit — CLAUDE.md invariant) or
        # freshly built by the caller, and no tree op mutates attrs
        # except the <body> attr merge, whose element is synthesized
        # with its own list (_ensure_body).  Eliding the copy saves one
        # list per element on the hot path.
        self.attrs = attrs if type(attrs) is list else list(attrs)
        self.children: list = []
        self.parent: Element | None = None

    def append(self, child):
        if isinstance(child, Element):
            child.parent = self
        self.children.append(child)

    def attr(self, name: str):
        for k, v in self.attrs:
            if k == name:
                return v
        return None

    def __repr__(self):  # test/debug aid
        return f"<{self.tag}>"


def _serialize(node: Element, depth: int = 0, out: list | None = None) -> str:
    """html5lib-tests style tree dump (| indented) for assertions."""
    top = out is None
    if out is None:
        out = []
    for ch in node.children:
        pad = "| " + "  " * depth
        if isinstance(ch, str):
            out.append(f'{pad}"{ch}"')
        else:
            out.append(f"{pad}<{ch.tag}>")
            for k, v in sorted(ch.attrs):
                out.append(f'{pad}  {k}="{v}"')
            _serialize(ch, depth + 1, out)
    return "\n".join(out) if top else ""


class TreeBuilder:
    """§13.2.6 subset; see module docstring for scope."""

    def __init__(self):
        self.document = Element("#document")
        self.open_elements: list[Element] = []
        self.active_formatting: list = []  # Element | MARKER
        self.mode = "initial"
        self.head: Element | None = None

    # ---------------------------------------------------------- stack ops

    def current(self) -> Element:
        return self.open_elements[-1]

    def _insert_location(self):
        """§13.2.6.1 'appropriate place for inserting a node': normally
        (current node, append); with FOSTER PARENTING when the current
        node is a table/section/row — content that isn't table structure
        goes immediately BEFORE the nearest open table, so ``<table>x
        <tr><td>y`` renders "x" outside the table like browsers do.
        Returns (parent, index|None) where None means append."""
        cur = self.current()
        if cur.tag in _FOSTER_CTX:
            for el in reversed(self.open_elements):
                if el.tag == "table":
                    parent = el.parent
                    if parent is not None and el in parent.children:
                        return parent, parent.children.index(el)
                    break  # table has no parent (shouldn't happen) → append
        return cur, None

    def _insert_element(self, tag: str, attrs=(), foster: bool = True) -> Element:
        # inlined Element construction + append (saves two Python frames
        # per element on the hottest tree op; field semantics identical —
        # attrs ownership rule as in Element.__init__, parent set as in
        # Element.append)
        el = _el_new(Element)
        el.tag = tag
        el.attrs = attrs if type(attrs) is list else list(attrs)
        el.children = []
        # table-structure tags are never foster-parented — the spec's
        # "in table" mode handles them structurally; fostering applies
        # only to its "anything else" branch.  The no-table-context
        # common case skips the _insert_location call outright.
        cur = self.open_elements[-1]
        if not foster or cur.tag not in _FOSTER_CTX:
            el.parent = cur
            cur.children.append(el)
        else:
            parent, idx = self._insert_location()
            el.parent = parent
            if idx is None:
                parent.children.append(el)
            else:
                parent.children.insert(idx, el)
        self.open_elements.append(el)
        return el

    def _insert_text(self, data: str, span=None) -> None:
        spans = [span] if span is not None else []
        cur = self.open_elements[-1]
        if cur.tag not in _FOSTER_CTX:
            # hot path: no table context in scope → plain append to the
            # current node (what _insert_location would return), without
            # the per-token strip() allocation the foster check needs
            siblings = cur.children
            pos = len(siblings)
        elif data.strip() == "":
            # spec: a whitespace-only run between table elements stays
            # inside the table (pending-table-character-tokens rule);
            # only runs with non-ws content are foster-parented
            parent, pos = cur, len(cur.children)
            siblings = parent.children
        else:
            parent, idx = self._insert_location()
            pos = len(parent.children) if idx is None else idx
            siblings = parent.children
        if pos > 0 and isinstance(siblings[pos - 1], str):
            prev = siblings[pos - 1]
            siblings[pos - 1] = Text(
                str(prev) + data, [*getattr(prev, "spans", ()), *spans]
            )
        elif pos == len(siblings):
            siblings.append(Text(data, spans))
        else:
            siblings.insert(pos, Text(data, spans))

    def _pop_until(self, tag: str) -> None:
        while self.open_elements:
            el = self.open_elements.pop()
            if el.tag == tag:
                return

    def _in_scope(self, tag: str, barriers=_SCOPE_BARRIER) -> bool:
        # callers with a wider scope pass a PRE-UNIONED barrier set
        # (_BUTTON_SCOPE_BARRIER / _LIST_SCOPE_BARRIER) — never a
        # per-call union
        for el in reversed(self.open_elements):
            if el.tag == tag:
                return True
            if el.tag in barriers:
                return False
        return False

    def _in_table_scope(self, tag: str) -> bool:
        """§13.2.4.2 'has an element in TABLE scope' — barriers are only
        html/table/template (generic scope's td/th/caption barriers do
        NOT apply, else a </table> with an open cell would be ignored)."""
        for el in reversed(self.open_elements):
            if el.tag == tag:
                return True
            if el.tag in ("html", "table", "template"):
                return False
        return False

    def _generate_implied_end_tags(self, exclude: str | None = None) -> None:
        stack = self.open_elements
        while (
            stack
            and stack[-1].tag in _IMPLIED_END
            and stack[-1].tag != exclude
        ):
            stack.pop()

    def _close_p(self) -> None:
        """§13.2.6.4 'close a p element'."""
        self._generate_implied_end_tags(exclude="p")
        self._pop_until("p")

    def _clear_to_table_context(self, ctx: tuple) -> None:
        """Spec 'clear the stack back to a table (row/body) context':
        pop until the current node is one of ``ctx``.  No-op when no
        table is open (stray cell markup stays where it is — this
        builder has no fragment-table fixup)."""
        if not any(el.tag == "table" for el in self.open_elements):
            return
        stop = set(ctx) | {"body", "html"}
        while self.open_elements and self.current().tag not in stop:
            self.open_elements.pop()

    # ------------------------------------- active formatting (§13.2.3.3)

    def _push_formatting(self, el: Element) -> None:
        # Noah's Ark clause: at most 3 entries with same tag+attrs since
        # the last marker
        same = []
        for entry in reversed(self.active_formatting):
            if entry is MARKER:
                break
            if entry.tag == el.tag and sorted(entry.attrs) == sorted(el.attrs):
                same.append(entry)
        if len(same) >= 3:
            self.active_formatting.remove(same[-1])
        self.active_formatting.append(el)

    def _reconstruct_formatting(self) -> None:
        """§13.2.6.3 'reconstruct the active formatting elements'."""
        afe = self.active_formatting
        if not afe:
            return
        entry = afe[-1]
        if entry is MARKER or entry in self.open_elements:
            return
        i = len(afe) - 1
        # rewind to the last marker / open element
        while i > 0:
            prev = afe[i - 1]
            if prev is MARKER or prev in self.open_elements:
                break
            i -= 1
        # advance: recreate each entry and replace it in the list
        for j in range(i, len(afe)):
            old = afe[j]
            new = self._insert_element(old.tag, list(old.attrs))
            afe[j] = new

    def _clear_formatting_to_marker(self) -> None:
        while self.active_formatting:
            entry = self.active_formatting.pop()
            if entry is MARKER:
                return

    # --------------------------------------------- adoption agency (AAA)

    def _element_in_scope(self, el: Element) -> bool:
        for e in reversed(self.open_elements):
            if e is el:
                return True
            if e.tag in _SCOPE_BARRIER:
                return False
        return False

    def _adoption_agency(self, subject: str) -> None:
        """§13.2.6.4 adoption agency algorithm for </subject>.

        Faithful step mapping: the OUTER loop iterates up to 8 times and
        CONTINUES after the clone dance (this is what makes text after
        ``<b>1<p>2</b>`` land in the <p>, not the clone — the second
        iteration finds no furthest block and pops the clone); the inner
        loop's counter only gates AFE eviction past 3 passes."""
        # step 1: current node matches and is not a formatting entry
        if (
            self.open_elements
            and self.current().tag == subject
            and self.current() not in self.active_formatting
        ):
            self.open_elements.pop()
            return
        for _outer in range(8):
            # step 5: locate formattingElement in the AFE tail
            fmt = None
            for entry in reversed(self.active_formatting):
                if entry is MARKER:
                    break
                if entry.tag == subject:
                    fmt = entry
                    break
            if fmt is None:
                self._any_other_end_tag(subject)
                return
            if self.open_elements and fmt is self.open_elements[-1]:
                # steps 6-10 collapsed for the overwhelmingly common
                # well-nested case (fmt IS the current node, ~99.9% of
                # calls on the fixture corpus): it is in the stack (step
                # 6 no-op), in scope (the scope walk sees it first, step
                # 7 true), and nothing sits above it so there is no
                # furthest block (step 9) -> step 10's del stack[idx:]
                # is a single pop.  Provably identical outcome.
                self.open_elements.pop()
                self.active_formatting.remove(fmt)
                return
            if fmt not in self.open_elements:  # step 6
                self.active_formatting.remove(fmt)
                return
            if not self._element_in_scope(fmt):  # step 7
                return  # parse error; ignore token
            # step 9: furthest block — first special element below fmt
            idx = self.open_elements.index(fmt)
            furthest = None
            for el in self.open_elements[idx + 1 :]:
                if el.tag in SPECIAL:
                    furthest = el
                    break
            if furthest is None:  # step 10
                del self.open_elements[idx:]
                self.active_formatting.remove(fmt)
                return
            common_ancestor = self.open_elements[idx - 1]  # step 11
            bookmark = self.active_formatting.index(fmt)  # step 12
            # steps 13-14: walk up from furthestBlock toward fmt
            node = last_node = furthest
            node_above = None  # "position before removal" bookkeeping
            inner = 0
            while True:
                inner += 1
                if node in self.open_elements:
                    node = self.open_elements[self.open_elements.index(node) - 1]
                else:
                    node = node_above
                if node is fmt:
                    break
                if inner > 3 and node in self.active_formatting:
                    self.active_formatting.remove(node)
                if node not in self.active_formatting:
                    node_above = self.open_elements[
                        self.open_elements.index(node) - 1
                    ]
                    self.open_elements.remove(node)
                    continue
                # clone node; replace in both lists
                clone = Element(node.tag, list(node.attrs))
                self.active_formatting[self.active_formatting.index(node)] = clone
                self.open_elements[self.open_elements.index(node)] = clone
                node = clone
                if last_node is furthest:
                    bookmark = self.active_formatting.index(clone) + 1
                if last_node.parent is not None:
                    last_node.parent.children.remove(last_node)
                node.append(last_node)
                last_node = node
            # step 15: lastNode → commonAncestor (no foster parenting)
            if last_node.parent is not None:
                last_node.parent.children.remove(last_node)
            common_ancestor.append(last_node)
            # steps 16-18: clone of fmt wraps furthest block's children
            clone = Element(fmt.tag, list(fmt.attrs))
            clone.children = furthest.children
            for ch in clone.children:
                if isinstance(ch, Element):
                    ch.parent = clone
            furthest.children = []
            furthest.append(clone)
            # step 19: AFE swap at the bookmark
            self.active_formatting.remove(fmt)
            if bookmark > len(self.active_formatting):
                bookmark = len(self.active_formatting)
            self.active_formatting.insert(bookmark, clone)
            # step 20: stack swap, clone immediately below furthest block
            self.open_elements.remove(fmt)
            self.open_elements.insert(self.open_elements.index(furthest) + 1, clone)
            # outer loop CONTINUES (no return) — step 3

    def _any_other_end_tag(self, tag: str) -> None:
        for i in range(len(self.open_elements) - 1, -1, -1):
            el = self.open_elements[i]
            if el.tag == tag:
                self._generate_implied_end_tags(exclude=tag)
                del self.open_elements[i:]
                return
            if el.tag in SPECIAL:
                return  # parse error; ignore token

    # ------------------------------------------------------ mode helpers

    def _ensure_body(self) -> None:
        """Fast-forward initial/before_html/before_head/in_head/after_head
        for body-content tokens (the spec's implicit <html><head></head>
        <body> synthesis)."""
        if self.mode == "in_body":
            return
        if not any(el.tag == "html" for el in self.open_elements):
            html = Element("html")
            self.document.append(html)
            self.open_elements.append(html)
        if self.head is None:
            self.head = Element("head")
            self.open_elements[0].append(self.head)
        if not any(el.tag == "body" for el in self.open_elements):
            body = Element("body")
            self.open_elements[0].append(body)
            self.open_elements.append(body)
        self.mode = "in_body"

    HEAD_ONLY = frozenset(
        "base basefont bgsound link meta title style script noscript template".split()
    )

    # ------------------------------------------------------------- drive

    # _start dispatch codes: every known tag maps to (preamble flags,
    # final branch), precomputed once by simulating the historical
    # if-chain in its exact order — one dict lookup replaces ~15 set
    # membership probes per start tag on the hot path.  _B_OTHER is 0 so
    # dict.get's default tuple covers unknown tags.
    _B_OTHER = 0  # "any other start tag": reconstruct + insert
    _B_HTML, _B_HEAD, _B_BODY = 1, 2, 3
    _B_FMT = 4  # formatting element: reconstruct + insert + push AFE
    _B_TDTH, _B_TR, _B_TSECT = 5, 6, 7
    _B_AMO = 8  # applet/marquee/object: insert + AFE marker
    _B_VOID = 9  # void (or self-closing fall-through): insert, no push
    _B_TABLE = 10
    _B_BLOCK = 11  # block group (P_CLOSERS/HEADINGS): insert, NO reconstruct
    _F_P = 1  # close an open <p> in button scope first
    _F_HEADING = 2  # implied </hN> when current node is a heading
    _F_LI = 4
    _F_DDDT = 8
    _F_A = 16  # spec: open <a> in the AFE triggers the adoption agency
    _F_HEADONLY = 32  # head metadata candidate in pre-body modes

    def process(self, tokens) -> Element:
        for tok in tokens:
            kind = tok[0]
            if kind == "chars":
                # our tokenizer's runs carry (start, end) source offsets;
                # reference-golden streams (["chars", data]) don't
                self._chars(tok[1], (tok[2], tok[3]) if len(tok) > 3 else None)
            elif kind == "start":
                self._start(tok[1], tok[2], tok[3])
            elif kind == "end":
                self._end(tok[1])
            elif kind == "comment":
                pass  # comments carry no extraction signal; dropped
            elif kind == "doctype":
                pass  # quirks-mode selection is out of scope
            elif kind == "eof":
                break
        return self.document

    def _chars(self, data: str, span=None) -> None:
        mode = self.mode
        if mode != "in_body":
            if mode == "in_head_real":
                # inside an open head element (title/style/…): text
                # belongs to it (the tokenizer delivers RAWTEXT-ish
                # content as ordinary tokens — reference topology)
                self._insert_text(data, span)
                return
            # whitespace before body structure is dropped (spec: ignored
            # in initial/before_* modes); other chars force the body
            if data.strip() == "":
                return
            self._ensure_body()
        # inlined reconstruct early-out: the common case is an empty AFE
        # (or one whose last entry is a marker / already open)
        afe = self.active_formatting
        if afe:
            last = afe[-1]
            if last is not MARKER and last not in self.open_elements:
                self._reconstruct_formatting()
        # inlined _insert_text hot path: no table context in scope →
        # append (or tail-coalesce) on the current node, constructing the
        # Text via C-level str.__new__ — skips two Python frames per text
        # token (the dominant per-token cost, see BENCH.md r4 profile).
        # Semantics identical to _insert_text: the tail either coalesces
        # (prev sibling is a str) or appends at len(children), and a str
        # child never takes a parent pointer (Element.append behavior).
        cur = self.open_elements[-1]
        if cur.tag not in _FOSTER_CTX:
            siblings = cur.children
            if siblings and isinstance(siblings[-1], str):
                prev = siblings[-1]
                t = _str_new(Text, str(prev) + data)
                ps = [*getattr(prev, "spans", ())]
                if span is not None:
                    ps.append(span)
                t.spans = ps
                siblings[-1] = t
            else:
                t = _str_new(Text, data)
                t.spans = [span] if span is not None else []
                siblings.append(t)
            return
        self._insert_text(data, span)

    def _start(self, tag: str, attrs, self_closing: bool) -> None:
        flags, branch = _START_DISPATCH.get(tag, (0, 0))
        if flags or branch:
            if branch == 1:  # _B_HTML
                if not any(el.tag == "html" for el in self.open_elements):
                    html = Element("html", attrs)
                    self.document.append(html)
                    self.open_elements.append(html)
                    self.mode = "before_head"
                return
            if branch == 2:  # _B_HEAD
                if self.head is None:
                    self._start_head(attrs)
                return
            if branch == 3:  # _B_BODY
                if not any(el.tag == "body" for el in self.open_elements):
                    self._ensure_body()
                    # merge attrs onto the synthesized body (spec behavior)
                    body = next(
                        el for el in self.open_elements if el.tag == "body"
                    )
                    for k, v in attrs:
                        if body.attr(k) is None:
                            body.attrs.append((k, v))
                return
            if flags & 32 and self.mode in (  # _F_HEADONLY
                "initial",
                "before_head",
                "in_head_real",
            ):
                # head-level metadata before any body content
                if self.head is None:
                    self._start_head(())
                el = Element(tag, attrs)
                self.head.append(el)
                if tag not in VOID and not self_closing:
                    # title/style/script contents arrive as ordinary
                    # tokens; keep the element open inside head
                    self.open_elements.append(el)
                    self.mode = "in_head_real"
                return

        self._ensure_body()

        if flags:
            if flags & 1 and self._in_scope(  # _F_P: p or any P_CLOSER
                "p", _BUTTON_SCOPE_BARRIER
            ):
                self._close_p()
            if flags & 2 and self.current().tag in HEADINGS:  # _F_HEADING
                self.open_elements.pop()  # spec: implied </hN>
            if flags & 4 and self._in_scope(  # _F_LI
                "li", _LIST_SCOPE_BARRIER
            ):
                self._generate_implied_end_tags(exclude="li")
                self._pop_until("li")
            if flags & 8:  # _F_DDDT
                for t in ("dd", "dt"):
                    if self._in_scope(t):
                        self._generate_implied_end_tags(exclude=t)
                        self._pop_until(t)
            if flags & 16:  # _F_A
                # spec: an <a> in the AFE list (since last marker)
                # triggers the adoption agency for the implied </a>
                for entry in reversed(self.active_formatting):
                    if entry is MARKER:
                        break
                    if entry.tag == "a":
                        self._adoption_agency("a")
                        if entry in self.active_formatting:
                            self.active_formatting.remove(entry)
                        if entry in self.open_elements:
                            self.open_elements.remove(entry)
                        break

        if self_closing and branch >= 9:  # _B_VOID/_B_TABLE/_B_BLOCK
            # historical chain order: self-closing is honored only past
            # the FMT/cell/row/section/AMO branches
            branch = 9
        if branch == 0:
            if self_closing:
                self._reconstruct_formatting()
                self.current().append(Element(tag, attrs))
                return
            # "any other start tag": reconstruct, then insert
            self._reconstruct_formatting()
            self._insert_element(tag, attrs)
            return
        if branch == 4:  # _B_FMT
            self._reconstruct_formatting()
            el = self._insert_element(tag, attrs)
            self._push_formatting(el)
            return
        if branch == 11:  # _B_BLOCK
            # block-level group: spec inserts WITHOUT reconstructing the
            # active formatting elements (reconstruction happens later,
            # inside the new block, when character/inline tokens arrive)
            self._insert_element(tag, attrs)
            return
        if branch == 9:  # _B_VOID
            # spec: br/img/embed/… reconstruct; hr (in P_CLOSERS) closed
            # the p above and per spec does not reconstruct
            if tag != "hr":
                self._reconstruct_formatting()
            el = Element(tag, attrs)
            self.current().append(el)
            return
        if branch == 5:  # _B_TDTH
            # spec "in row": clear the stack back to table row context,
            # then insert + AFE marker (no reconstruction).  The clearing
            # also recovers when the tokenizer's stack filter swallowed a
            # </td> left open by a dangling inline element.
            self._clear_to_table_context(("tr", "table"))
            self._insert_element(tag, attrs, foster=False)
            self.active_formatting.append(MARKER)
            return
        if branch == 6:  # _B_TR
            self._clear_to_table_context(("tbody", "thead", "tfoot", "table"))
            self._insert_element(tag, attrs, foster=False)
            return
        if branch == 7:  # _B_TSECT
            self._clear_to_table_context(("table",))
            self._insert_element(tag, attrs, foster=False)
            if tag == "caption":
                self.active_formatting.append(MARKER)
            return
        if branch == 8:  # _B_AMO
            self._reconstruct_formatting()
            self._insert_element(tag, attrs)
            self.active_formatting.append(MARKER)
            return
        # branch == 10, _B_TABLE — spec "in table" <table>: a nested
        # table start acts as </table> first, then the new table is
        # processed (so sibling tables, never a table directly inside one)
        if self._in_table_scope("table"):
            self._end("table")
        self._insert_element(tag, attrs, foster=False)

    def _start_head(self, attrs) -> None:
        if not any(el.tag == "html" for el in self.open_elements):
            html = Element("html")
            self.document.append(html)
            self.open_elements.append(html)
        self.head = Element("head", attrs)
        self.open_elements[0].append(self.head)
        self.mode = "before_head"

    def _end(self, tag: str) -> None:
        if self.mode == "in_head_real" and self.open_elements:
            if self.current().tag == tag:
                self.open_elements.pop()
                self.mode = "before_head"
                return
        if tag in ("html", "body"):
            self.mode = "after_body" if self.mode == "in_body" else self.mode
            return
        if tag == "head":
            self.mode = "after_head" if self.mode != "in_body" else self.mode
            return
        if self.mode != "in_body":
            return
        if tag == "p":
            if not self._in_scope("p", _BUTTON_SCOPE_BARRIER):
                # spec: synthesize an empty <p> then close it
                self._insert_element("p")
            self._close_p()
            return
        if tag in HEADINGS:
            # fused "any heading in scope" — one stack walk instead of up
            # to six _in_scope calls.  Equivalent because HEADINGS and
            # _SCOPE_BARRIER are disjoint: the first element that is a
            # heading (→ that heading is in scope) or a barrier (→ every
            # heading walk stops here) decides.
            hit = False
            for el in reversed(self.open_elements):
                t = el.tag
                if t in HEADINGS:
                    hit = True
                    break
                if t in _SCOPE_BARRIER:
                    break
            if hit:
                self._generate_implied_end_tags()
                while self.open_elements:
                    el = self.open_elements.pop()
                    if el.tag in HEADINGS:
                        break
            return
        if tag == "li":
            if self._in_scope("li", _LIST_SCOPE_BARRIER):
                self._generate_implied_end_tags(exclude="li")
                self._pop_until("li")
            return
        if tag in FORMATTING:
            self._adoption_agency(tag)
            return
        if tag in ("applet", "marquee", "object", "td", "th", "caption"):
            if self._in_scope(tag):
                self._generate_implied_end_tags()
                self._pop_until(tag)
                self._clear_formatting_to_marker()
            return
        if tag == "table":
            # spec "in table" </table>: pop until the table is gone —
            # the generic path would see SPECIAL cells above it and
            # ignore the token, leaving the table open forever
            if self._in_table_scope("table"):
                self._pop_until("table")
            return
        self._any_other_end_tag(tag)


def _build_start_dispatch() -> dict:
    """Precompute the per-tag (flags, branch) pairs for ``_start`` by
    simulating the historical if-chain in its exact order — the table is
    a pure refactoring artifact; behavior is pinned by the DOM goldens
    and the fixture-corpus equality test."""
    tb = TreeBuilder
    tags = (
        {
            "html", "head", "body", "p", "li", "dd", "dt", "a", "td",
            "th", "tr", "tbody", "thead", "tfoot", "caption", "colgroup",
            "applet", "marquee", "object", "table",
        }
        | VOID | FORMATTING | P_CLOSERS | HEADINGS | tb.HEAD_ONLY
    )
    out = {}
    for t in tags:
        flags = 0
        if t in P_CLOSERS:  # "p" is itself a P_CLOSER
            flags |= tb._F_P
        if t in HEADINGS:
            flags |= tb._F_HEADING
        if t == "li":
            flags |= tb._F_LI
        if t in ("dd", "dt"):
            flags |= tb._F_DDDT
        if t == "a":
            flags |= tb._F_A
        if t in tb.HEAD_ONLY:
            flags |= tb._F_HEADONLY
        if t == "html":
            b = tb._B_HTML
        elif t == "head":
            b = tb._B_HEAD
        elif t == "body":
            b = tb._B_BODY
        elif t in FORMATTING:
            b = tb._B_FMT
        elif t in ("td", "th"):
            b = tb._B_TDTH
        elif t == "tr":
            b = tb._B_TR
        elif t in ("tbody", "thead", "tfoot", "caption", "colgroup"):
            b = tb._B_TSECT
        elif t in ("applet", "marquee", "object"):
            b = tb._B_AMO
        elif t in VOID:
            b = tb._B_VOID
        elif t == "table":
            b = tb._B_TABLE
        elif t in P_CLOSERS or t in HEADINGS:
            b = tb._B_BLOCK
        else:
            b = tb._B_OTHER
        out[t] = (flags, b)
    return out


_START_DISPATCH = _build_start_dispatch()


def build_tree(tokens) -> Element:
    """Token stream (tokenizer tuples) → #document Element."""
    return TreeBuilder().process(tokens)


def parse_html(text: str):
    """Tokenize + tree-construct.  Returns (document, parse_status,
    err_count) — status/err from the tokenizer pass."""
    tokens, status, err = tokenize(text)
    doc = build_tree(tokens)
    return doc, status, err


def serialize_tree(doc: Element) -> str:
    """html5lib-tests style dump (for tests and debugging)."""
    return _serialize(doc)
