"""Quirk-exact WHATWG-style HTML tokenizer (pure Python, no Spark imports).

Behavioral port of the reference engine's tokenizer automaton (reference:
src/tokenizer/mod.rs:17-3819, src/tokenizer/state.rs) — NOT a code
translation: the implementation is a single flat ``while`` loop over integer
state constants with regex bulk runs over plain stretches, designed to run
inside Arrow-batched pandas UDFs.  The character-reference family
(mod.rs:718-1095) is one scan, ``_char_ref``, that every '&' calls, so the
reference's ``return_state`` and ``character_reference_code`` registers,
which only that family reads, have no counterpart here.  Golden equality is
defined by differential testing against the compiled reference binary
(SURVEY.md §5) and, where the binary cannot be built, by the frozen oracle
in tests/test_tokenizer_oracle.py.

Each turn of the loop runs, in order:

1. the bulk runs, only when no character is pending reconsumption: DATA's
   two whole-construct fast paths (the fused run+tag ``_DATA_TAG`` and a
   bulk ``_char_ref``), or one ``_RUN_BREAK`` scan of a tag, attribute,
   comment or CDATA state that appends the run of characters the state's
   handler would append one by one;
2. the one consume step, like the reference's ``consume()`` and reconsume
   flag (mod.rs:3798-3806): reconsume ``cur`` or advance by one, setting
   ``c``, ``cur``, ``cur_idx`` and ``pos``; every handler starts from
   ``c``.  The keyword look-aheads of MARKUP_DECL_OPEN and
   AFTER_DOCTYPE_NAME go through ``_keyword_lookahead``; an '&' in DATA,
   RCDATA or an attribute value calls ``_char_ref`` and resumes at the
   index it returns, in the same state.

Replicated quirks (each pinned by tests/fixtures/probe_cases.jsonl):

* end tags are emitted only when they match the top of an ``open_tags`` stack,
  otherwise silently dropped; void/self-closing elements bypass the stack
  (mod.rs:3756-3779) — e.g. ``<body><br></body>`` drops ``</body>``.
* ``<!doctype`` with a lowercase ``d`` becomes a bogus comment: the markup
  declaration dispatch matches ``'D'`` only (mod.rs:1109).
* tag-open alpha test is Unicode ``is_alphabetic`` (mod.rs:231), so ``<éx>``
  opens a tag; end-tag-open is ASCII-only (mod.rs:259).
* duplicate attributes are kept (mod.rs:374-378 unimplemented dedup).
* NUL in the data state is emitted as-is (mod.rs:196).
* named references consume alphabetic chars and ``;`` only, so digit-bearing
  entities (``&frac12;``) never decode (mod.rs:752-783); the no-semicolon
  prefix fallback tries byte-prefixes of length min(7,len)..4 only, so 3-byte
  entities like ``&gt`` never prefix-match (mod.rs:839-857); the in-attribute
  historical rule re-flushes raw when the terminator is ``=``/alphanumeric
  (mod.rs:796-824).
* numeric-reference accumulators wrap at u32 like a Rust release build
  (mod.rs:992-1032); the C1 remap table is incomplete (entities.py).
* ``&#x`` at EOF is swallowed: the hex-start EOF arm reconsumes without
  flushing the temp buffer (mod.rs:958-960).
* three reference states lack EOF arms and hang forever on inputs ending in
  ``<!``, ``<!--x-`` or ``<!DOCTYPE name␣`` (mod.rs:1098-1126, 1398-1416,
  1565-1612).  This port *terminates* on them and reports
  ``parse_status='hang_in_reference'`` (documented divergence; excluded from
  the equality denominator — the reference never produces output for them).
* the named-reference byte-prefix slice can split a UTF-8 char boundary, which
  panics the reference process (Rust ``&buffer[..max]``).  This port reports
  ``parse_status='panic_in_reference'`` and recovers by flushing raw.

Token model (mirrors src/tokenizer/token.rs:183-190, with Char runs coalesced
losslessly into one ``chars`` entry per run — the serialization format used by
the golden fixtures):

    ("chars", data, src_start, src_end)
    ("start", name, attrs, self_closing)      attrs: list[[name, value]]
    ("end",   name, attrs, self_closing)
    ("comment", data)
    ("doctype", name, public_id, system_id, force_quirks)
    ("eof",)

``src_start``/``src_end`` are char offsets into the raw input covering the
source region a text run came from (entity references attribute their decoded
characters to the reference's source span) — consumed by extract.py for spans.
"""

from __future__ import annotations

import re
import unicodedata

from .entities import (
    MAX_POSSIBLE,
    MAX_WITHOUT_SEMICOLON,
    MIN_POSSIBLE,
    ENTITIES,
    is_numeric_control,
    is_numeric_noncharacter,
    is_numeric_surrogate,
    is_numeric_whitespace,
    replace_control,
)

# ---------------------------------------------------------------------------
# states (subset ordering irrelevant; ints for dispatch speed)
# reference: src/tokenizer/state.rs:2-323
DATA = 0
TAG_OPEN = 1
TAG_NAME = 2
BEFORE_ATTR_NAME = 3
ATTR_NAME = 4
AFTER_ATTR_NAME = 5
BEFORE_ATTR_VALUE = 6
ATTR_VALUE_DQ = 7
ATTR_VALUE_SQ = 8
ATTR_VALUE_UQ = 9
AFTER_ATTR_VALUE_Q = 10
END_TAG_OPEN = 11
SELF_CLOSING = 12
# 13-20 and 22: the character-reference family (CHAR_REF ...
# NUMERIC_CHAR_REF_END, AMBIGUOUS_AMPERSAND) has no state here — every '&'
# runs it as one scan, ``_char_ref``
BOGUS_COMMENT = 21
MARKUP_DECL_OPEN = 23
COMMENT_START = 24
COMMENT_START_DASH = 25
COMMENT = 26
COMMENT_LTS = 27
COMMENT_LTS_BANG = 28
COMMENT_LTS_BANG_DASH = 29
COMMENT_LTS_BANG_DASH_DASH = 30
COMMENT_END_DASH = 31
COMMENT_END = 32
COMMENT_END_BANG = 33
DOCTYPE = 34
BEFORE_DOCTYPE_NAME = 35
DOCTYPE_NAME = 36
AFTER_DOCTYPE_NAME = 37
AFTER_PUBLIC_KEYWORD = 38
BEFORE_PUBLIC_ID = 39
PUBLIC_ID_DQ = 40
PUBLIC_ID_SQ = 41
AFTER_PUBLIC_ID = 42
BETWEEN_PUB_SYS = 43
AFTER_SYSTEM_KEYWORD = 44
BEFORE_SYSTEM_ID = 45
SYSTEM_ID_DQ = 46
SYSTEM_ID_SQ = 47
AFTER_SYSTEM_ID = 48
BOGUS_DOCTYPE = 49
CDATA_SECTION = 50
CDATA_BRACKET = 51
CDATA_END = 52

# RCDATA / RAWTEXT / script-data / PLAINTEXT families (reference
# state.rs:2-323; unreachable from Data in the reference — no code path
# performs the tree-builder state feedback, SURVEY.md §2.4 — but the
# handlers exist and are replicated here behind an optional
# ``initial_state`` entry point, completing the reference's 80-state
# automaton less the nine character-reference states)
RCDATA = 53
RCDATA_LTS = 54
RCDATA_END_TAG_OPEN = 55
RCDATA_END_TAG_NAME = 56
RAWTEXT = 57
RAWTEXT_LTS = 58
RAWTEXT_END_TAG_OPEN = 59
RAWTEXT_END_TAG_NAME = 60
SCRIPT_DATA = 61
SCRIPT_LTS = 62
SCRIPT_END_TAG_OPEN = 63
SCRIPT_END_TAG_NAME = 64
SCRIPT_ESCAPE_START = 65
SCRIPT_ESCAPE_START_DASH = 66
SCRIPT_ESCAPED = 67
SCRIPT_ESCAPED_DASH = 68
SCRIPT_ESCAPED_DASH_DASH = 69
SCRIPT_ESCAPED_LTS = 70
SCRIPT_ESCAPED_END_TAG_OPEN = 71
SCRIPT_ESCAPED_END_TAG_NAME = 72
SCRIPT_DOUBLE_ESCAPE_START = 73
SCRIPT_DOUBLE_ESCAPED = 74
SCRIPT_DOUBLE_ESCAPED_DASH = 75
SCRIPT_DOUBLE_ESCAPED_DASH_DASH = 76
SCRIPT_DOUBLE_ESCAPED_LTS = 77
SCRIPT_DOUBLE_ESCAPE_END = 78
PLAINTEXT = 79

# end-tag-open/name family dispatch (shared handler bodies)
_ETO_FAMILY = {
    RCDATA_END_TAG_OPEN: (RCDATA_END_TAG_NAME, RCDATA),
    RAWTEXT_END_TAG_OPEN: (RAWTEXT_END_TAG_NAME, RAWTEXT),
    SCRIPT_END_TAG_OPEN: (SCRIPT_END_TAG_NAME, SCRIPT_DATA),
    SCRIPT_ESCAPED_END_TAG_OPEN: (SCRIPT_ESCAPED_END_TAG_NAME, SCRIPT_ESCAPED),
}
_ETN_FAMILY = {
    RCDATA_END_TAG_NAME: RCDATA,
    RAWTEXT_END_TAG_NAME: RAWTEXT,
    SCRIPT_END_TAG_NAME: SCRIPT_DATA,
    SCRIPT_ESCAPED_END_TAG_NAME: SCRIPT_ESCAPED,
}
# (match_state, else_state) per double-escape transition state
_DBL_ESCAPE = {
    SCRIPT_DOUBLE_ESCAPE_START: (SCRIPT_DOUBLE_ESCAPED, SCRIPT_ESCAPED),
    SCRIPT_DOUBLE_ESCAPE_END: (SCRIPT_ESCAPED, SCRIPT_DOUBLE_ESCAPED),
}
_RAWTEXTISH = {RAWTEXT: RAWTEXT_LTS, SCRIPT_DATA: SCRIPT_LTS}
_ASCII_LOWER = frozenset("abcdefghijklmnopqrstuvwxyz")

_ATTR_VALUE_STATES = (ATTR_VALUE_DQ, ATTR_VALUE_SQ, ATTR_VALUE_UQ)

_WS = "\t\n\x0c "  # tab, LF, FF, space — the tokenizer's whitespace class

_DATA_BREAK = re.compile(r"[&<]")
# bulk-run break sets of the tag-name, attribute, comment and CDATA states,
# run ahead of the consume step: each matches exactly the characters handled
# by a non-default arm (state switch / case fold / NUL replacement) of that
# state's handler; every char before the break lands in the default
# "append verbatim" arm, so bulk-appending the run is semantics-preserving
# (differential-tested vs the reference binary)
_RUN_BREAK = {
    TAG_NAME: re.compile(r"[\t\n\x0c />\x00A-Z]"),
    ATTR_NAME: re.compile(r"[\t\n\x0c />=\x00A-Z]"),
    ATTR_VALUE_DQ: re.compile(r'["&\x00]'),
    ATTR_VALUE_SQ: re.compile(r"['&\x00]"),
    ATTR_VALUE_UQ: re.compile(r"[\t\n\x0c &>\x00]"),
    BOGUS_COMMENT: re.compile(r"[>\x00]"),
    COMMENT: re.compile(r"[<\-\x00]"),
    CDATA_SECTION: re.compile(r"\]"),
}
# keyword look-aheads: (goal, state after a full match) per dispatch char
_MARKUP_DECL = {
    "-": ("--", COMMENT_START),
    "D": ("DOCTYPE", DOCTYPE),
    "[": ("[CDATA[", CDATA_SECTION),
}
_DOCTYPE_KEYWORD = {"P": ("PUBLIC", AFTER_PUBLIC_KEYWORD), "S": ("SYSTEM", AFTER_SYSTEM_KEYWORD)}
# closing quote of each quoted attribute-value / doctype-identifier state
_QUOTE = {
    ATTR_VALUE_DQ: '"', ATTR_VALUE_SQ: "'",
    PUBLIC_ID_DQ: '"', PUBLIC_ID_SQ: "'",
    SYSTEM_ID_DQ: '"', SYSTEM_ID_SQ: "'",
}
# the six DOCTYPE states before a quoted public (0) or system (1)
# identifier, one handler: (identifier index, state whitespace leads to,
# whether '>' forces quirks)
_DT_BEFORE_ID = {
    AFTER_PUBLIC_KEYWORD: (0, BEFORE_PUBLIC_ID, True),
    BEFORE_PUBLIC_ID: (0, BEFORE_PUBLIC_ID, True),
    AFTER_PUBLIC_ID: (1, BETWEEN_PUB_SYS, False),
    BETWEEN_PUB_SYS: (1, BETWEEN_PUB_SYS, False),
    AFTER_SYSTEM_KEYWORD: (1, BEFORE_SYSTEM_ID, True),
    BEFORE_SYSTEM_ID: (1, BEFORE_SYSTEM_ID, True),
}
# the quoted state an opening quote enters, per identifier index
_DT_ID_OPEN = (
    {'"': PUBLIC_ID_DQ, "'": PUBLIC_ID_SQ},
    {'"': SYSTEM_ID_DQ, "'": SYSTEM_ID_SQ},
)
# the four quoted identifier states, one handler: (identifier index, state
# after the closing quote)
_DT_QUOTED_ID = {
    PUBLIC_ID_DQ: (0, AFTER_PUBLIC_ID),
    PUBLIC_ID_SQ: (0, AFTER_PUBLIC_ID),
    SYSTEM_ID_DQ: (1, AFTER_SYSTEM_ID),
    SYSTEM_ID_SQ: (1, AFTER_SYSTEM_ID),
}

# ---------------------------------------------------------------------------
# whole-tag fast path: one C-level regex match per *common-case* tag.
#
# The grammar below is a strict subset of what the automaton accepts; any
# input needing case folding, entity decoding, NUL replacement, CR-in-tag,
# reconsume quirks, or parse-error arms falls outside it and takes the
# per-char automaton path.  Inside the subset the automaton's behavior is
# provably "append chars verbatim, then emit via emit_current_tag", so
# constructing the token directly is semantics-preserving (and the
# differential harness checks this against the reference binary).
#
# Notes mirroring the automaton (mod.rs:286-685):
# - whitespace is exactly [\t\n\x0c ] (\r/\v are ordinary chars → excluded
#   from the subset entirely so they fall back);
# - tag names: ASCII alpha (TAG_NAME folds A-Z with +0x20 ≡ str.lower on
#   the matched ASCII subset);
# - attr names: lowercase start, no '=' / uppercase (folding) / NUL;
# - values: NUL always falls back; & inside a value is decoded by
#   _decode_attr_value, the attribute-mode _char_ref the automaton's
#   attribute-value states call too; unquoted may not start with "/'/=
#   (before-attr-value dispatch) and breaks on [\t\n\x0c &>\x00], where
#   the & continues the same value via the char-ref path — so the source
#   span of an unquoted value is the maximal [^\t\n\x0c >\x00] run;
# - '/' is self-closing ONLY when immediately followed by '>';
# - end tags with attributes are inside the subset (the reference keeps
#   them on the token).
_VAL = r"(?:\"[^\"\x00]*\"|'[^'\x00]*'|[^\t\n\x0c \"'=>\x00][^\t\n\x0c >\x00]*)"
_FAST_ATTR = re.compile(
    r"([a-z][a-z0-9_:.-]*)(?:[\t\n\x0c ]*=[\t\n\x0c ]*(" + _VAL + r"))?"
)
_FAST_TAG = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)"
    r"((?:[\t\n\x0c ]+[a-z][a-z0-9_:.-]*"
    r"(?:[\t\n\x0c ]*=[\t\n\x0c ]*" + _VAL + r")?)*)"
    r"[\t\n\x0c ]*(/?)>"
)
# fused data-run + tag scan: ONE regex call per (text run, tag) pair
# instead of _DATA_BREAK.search + _FAST_TAG.match.  Group 1 is the DATA
# run ([^&<]* — same break set as _DATA_BREAK; NUL passes through DATA
# verbatim), groups 2-5 are _FAST_TAG's groups shifted by one.  Sound
# because the run class excludes '<' while the tag alternative requires
# it, so backtracking can neither shorten the run nor blow up; and a
# fused failure implies _FAST_TAG cannot match at the first break either
# (if the first break were '<' opening a subset tag, the fused pattern
# would have matched), so the fallback no longer retries the tag regex.
# Measured 9-17% single-thread tokenize gain on the fixture corpus
# (in-process ABAB, BENCH.md round 4).
_DATA_TAG = re.compile(r"([^&<]*)" + _FAST_TAG.pattern)
# bulk scanner for NAMED_CHAR_REF's alpha run — ASCII subset of Rust
# char::is_alphabetic; a run ending at a non-ASCII char needs the per-char
# check to decide whether the run actually continues (unicode alphabetic)
_ENT_ALPHA_RUN = re.compile(r"[A-Za-z]*")
# whole-reference fast shapes for _char_ref: the common "&name;" with
# an ASCII-alpha run short enough that the MAX_POSSIBLE(=33) loop cap can
# never fire ({1,32} + ';' fails on any 33+ run and falls to the slow
# scan), and bulk digit runs for numeric refs (int(run, base) & 0xFFFFFFFF
# equals the reference's per-char u32 wrap by modular induction:
# ((a mod m)*b + d) mod m == (a*b + d) mod m)
_FAST_NAMED_REF = re.compile(r"[A-Za-z]{1,32};")
_DEC_RUN = re.compile(r"[0-9]+")
_HEX_RUN = re.compile(r"[0-9a-fA-F]+")

# memo for the whole-tag fast path, keyed on the EXACT matched source
# substring.  Web-scale corpora repeat tag strings massively (the fixture
# corpus: 105k fast-path tag occurrences, 105 distinct strings), so after
# the first occurrence a tag costs one dict probe instead of
# finditer + case-fold + entity-decode.  Values are immutable
# (is_end, name, attrs-as-tuple-of-pairs, self_closing); each hit
# re-materializes a fresh list-of-lists so token consumers that copy or
# iterate attrs see exactly the objects the parse path would build.
# Bounded: cleared wholesale past 64k distinct tags (adversarial inputs
# with unbounded distinct attribute values must not grow a per-executor
# dict forever; a clear costs one re-parse per distinct tag).
_TAG_MEMO: dict = {}
_TAG_MEMO_MAX = 1 << 16
# named-char-ref outcome memo: the resolution of a scanned "&name[;]"
# string (direct entity hit, byte-domain prefix fallback + raw tail, or
# the all-raw AMBIGUOUS_AMPERSAND case) depends only on the name string,
# so the emitted text, the PANIC flag from the fallback's utf-8 prefix
# probes, and the ambiguous flag are computed once per distinct name.
# Corpora reuse a handful of entities massively (fixture corpus: ~236k
# named refs, 22 distinct).  Values: (emit_str, panic, ambiguous), filled
# by _resolve_named_ref.
_ENT_OUTCOME_MEMO: dict = {}

_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
_ASCII_UPPER = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_ASCII_DIGIT = frozenset("0123456789")
_ASCII_HEX = frozenset("0123456789abcdefABCDEF")

REPLACEMENT = "�"

# parse_status values
OK = "ok"
HANG = "hang_in_reference"
PANIC = "panic_in_reference"


def _is_alphabetic(c: str) -> bool:
    """Rust char::is_alphabetic ≈ Unicode Alphabetic.

    Python ``str.isalpha`` covers L*; add Nl to close most of the gap
    (Other_Alphabetic combining marks are not covered — documented
    divergence, absent from the fixture grammar).
    """
    return c.isalpha() or unicodedata.category(c) == "Nl"


def _is_alphanumeric(c: str) -> bool:
    """Rust char::is_alphanumeric ≈ Alphabetic ∪ N*."""
    return c.isalnum() or unicodedata.category(c) == "Nl"


def _numeric_ref_char(code: int) -> str:
    """NUMERIC_CHAR_REF_END's code→char mapping (mod.rs:1048-1095):
    0 / >0x10FFFF / surrogate / noncharacter → U+FFFD; CR and non-
    whitespace controls remapped via the reference's incomplete C1
    table.  The guard clauses are mutually exclusive with the remap
    (U+FFFD is none of CR/control), so elif ≡ the reference's
    sequential ifs."""
    if (
        code == 0x00
        or code > 0x10FFFF
        or is_numeric_surrogate(code)
        or is_numeric_noncharacter(code)
    ):
        code = 0xFFFD
    elif code == 0x0D or (
        is_numeric_control(code) and not is_numeric_whitespace(code)
    ):
        code = replace_control(code)
    try:
        return chr(code)
    except ValueError:
        return REPLACEMENT


def _resolve_named_ref(name: str) -> tuple:
    """NAMED_CHAR_REF's outcome when the return state is not an
    attribute value, for a scanned ``name`` ("&" + the consumed chars):
    ``(emit_str, panic, ambiguous)``, stored in ``_ENT_OUTCOME_MEMO``
    and read by ``_char_ref``.

    An exact entity emits its value.  Otherwise the byte-domain prefix
    fallback (mod.rs:839-877) emits the longest entity prefix plus the
    raw tail.  Rust slices ``&buffer[..max]`` by BYTES and panics on a
    char-boundary violation; we flag ``panic`` and recover.  The raw
    tail is ``name[mx:]`` with ``mx`` in the BYTE domain compared
    against CHAR indices (mod.rs:859-863), the reference's quirk kept
    verbatim.  The automaton emits the prefix and the tail as two
    emit_chars calls with one span; they land in the same pending run,
    so one concatenated string is output-identical.  No prefix down to
    MIN_POSSIBLE: the whole name is emitted raw and ``ambiguous`` says
    AMBIGUOUS_AMPERSAND follows.  An empty ``emit_str`` (names
    shorter than MIN_POSSIBLE bytes, e.g. "&a") means nothing is emitted
    at all."""
    entity = ENTITIES.get(name)
    if entity is not None:
        outcome = (entity, False, False)
    else:
        panic = False
        bbuf = name.encode("utf-8")
        mx = min(MAX_WITHOUT_SEMICOLON + 1, len(bbuf))
        matched = None
        while mx > MIN_POSSIBLE:
            try:
                matched = ENTITIES.get(bbuf[:mx].decode("utf-8"))
            except UnicodeDecodeError:
                panic = True
            if matched is not None:
                break
            mx -= 1
        if mx != MIN_POSSIBLE:
            outcome = ((matched or "") + name[mx:], panic, False)
        else:
            outcome = (name, panic, True)
    if len(_ENT_OUTCOME_MEMO) >= _TAG_MEMO_MAX:
        _ENT_OUTCOME_MEMO.clear()
    _ENT_OUTCOME_MEMO[name] = outcome
    return outcome


def _keyword_lookahead(text: str, i: int, goal: str, fold: bool):
    """The reference's keyword look-aheads (consume_double_hyphen,
    consume_doctype, consume_cdata, consume_public_keyword and
    consume_system_keyword, mod.rs:3410-3552).

    Starting from the freshly consumed current character ``text[i]``,
    consume characters while they match ``goal`` (ASCII a-z compared in
    upper case when ``fold``); the first mismatching character is consumed
    too, for the caller to reconsume.  Returns ``(matched, pos, cur,
    cur_idx)``: the number of goal characters matched and the consume
    registers after the last consume (``cur`` None at EOF).
    """
    n = len(text)
    for k, g in enumerate(goal):
        j = i + k
        if j >= n:
            return k, n, None, n
        ch = text[j]
        if ch != g and not (fold and "a" <= ch <= "z" and chr(ord(ch) - 0x20) == g):
            return k, j + 1, ch, j
    j = i + len(goal) - 1
    return len(goal), j + 1, text[j], j


def _char_ref(text: str, j: int, attr: bool) -> tuple:
    """The reference's character-reference family (CHAR_REF through
    NUMERIC_CHAR_REF_END, and AMBIGUOUS_AMPERSAND, mod.rs:718-1095) as one
    scan from the '&' at ``text[j]`` back to the return state.  Every '&'
    the automaton meets calls it.

    Returns ``(emit, span_end, resume, panic)``: the characters the return
    state receives ("" for none), the end of their source span (which
    starts at ``j``), the index the return state consumes next (a breaking
    character the reference reconsumes sits at ``resume``), and whether the
    reference process panics on this reference.

    ``attr`` selects the attribute-value return states: a matched name
    followed by '=' or an alphanumeric is flushed raw (the historical rule,
    mod.rs:796-824), and there is neither the byte-prefix fallback nor
    AMBIGUOUS_AMPERSAND.  Otherwise the fallback is ``_resolve_named_ref``
    and AMBIGUOUS_AMPERSAND's ASCII-alpha tail is part of ``emit``: its
    characters land in the same run, so one string whose span runs to the
    tail's end is output-identical.

    Quirks (pinned by tests/test_tokenizer.py and the frozen oracle):
      - '&' followed by neither '#' nor an alphanumeric is dropped: CHAR_REF
        reconsumes without flushing its temporary buffer;
      - named references consume alphabetic chars and ';' only, so
        "&frac12;" never matches;
      - NAMED_CHAR_REF's MAX_POSSIBLE loop cap keeps the last consumed char
        in the raw flush AND reprocesses it;
      - a named span includes the breaking char (cur_idx + 1); a numeric
        span excludes a reconsumed one;
      - numeric accumulators wrap at u32 (``int(run) & 0xFFFFFFFF`` equals
        the per-char wrap by modular induction); "&#"/"&#x" with no digits
        flush raw, keeping the x/X case, except "&#x" at EOF, which
        HEX_CHAR_REF_START's EOF arm swallows.
    """
    n = len(text)
    i = j + 1
    c = text[i] if i < n else None
    if c == "#":
        i += 1
        c = text[i] if i < n else None
        if c == "x" or c == "X":
            x = c
            i += 1
            c = text[i] if i < n else None
            if c is not None and c in _ASCII_HEX:
                e = _HEX_RUN.match(text, i).end()
                code = int(text[i:e], 16) & 0xFFFFFFFF
                # a consumed ';' is inside the span, a reconsumed breaking
                # char is not — both equal the resume index
                if e < n and text[e] == ";":
                    e += 1
                return _numeric_ref_char(code), e, e, False
            if c is None:
                return "", n, n, False
            return "&#" + x, i, i, False
        if c is not None and c in _ASCII_DIGIT:
            e = _DEC_RUN.match(text, i).end()
            code = int(text[i:e], 10) & 0xFFFFFFFF
            if e < n and text[e] == ";":
                e += 1
            return _numeric_ref_char(code), e, e, False
        return "&#", i, i, False
    if c is None or not (
        ("a" <= c <= "z" or "A" <= c <= "Z" or "0" <= c <= "9")
        or _is_alphanumeric(c)
    ):
        return "", i, i, False
    # NAMED_CHAR_REF: ``cur`` is the char that ended the scan (None at EOF)
    fm = _FAST_NAMED_REF.match(text, i)
    if fm is not None:
        # a short ASCII-alpha run ending in ';' ({1,32} cannot absorb the
        # 33+ runs the loop cap acts on)
        name = "&" + fm.group(0)
        cur = ";"
        i = fm.end()
    else:
        # bulk-scan the ASCII-alpha run; per-char continuation only when it
        # ends at a unicode-alphabetic char
        e = _ENT_ALPHA_RUN.match(text, i).end()
        b = text[e] if e < n else None
        if e - i >= MAX_POSSIBLE:
            e = i + MAX_POSSIBLE
            name = "&" + text[i:e]
            cur = name[-1]
            i = e
        elif b is not None and _is_alphabetic(b):
            buf = ["&", text[i:e]]
            k = e - i
            i = e
            while k < MAX_POSSIBLE:
                if i >= n:
                    cur = None
                    break
                cur = text[i]
                i += 1
                if cur == ";":
                    buf.append(cur)
                    break
                if not _is_alphabetic(cur):
                    break
                buf.append(cur)
                k += 1
            name = "".join(buf)
        else:
            # b is None at EOF, else a non-alphabetic char other than ';'
            # (a ';' after 1-32 ASCII alphas is the fast shape's)
            name = "&" + text[i:e]
            cur = b
            i = e if b is None else e + 1
    # span end: cur_idx + 1 when a char ended the scan (even a reconsumed
    # one), n at EOF; resume: ';' is consumed, any other char reprocessed
    end = i if cur is not None else n
    resume = i if (cur == ";" or cur is None) else i - 1
    if attr:
        entity = ENTITIES.get(name)
        if entity is None or cur == "=" or (
            cur is not None and _is_alphanumeric(cur)
        ):
            return name, end, resume, False
        return entity, end, resume, False
    emit, panic, ambiguous = _ENT_OUTCOME_MEMO.get(name) or _resolve_named_ref(name)
    if ambiguous:
        p = resume
        while p < n and text[p] in _ASCII_ALPHA:
            p += 1
        if p > resume:
            return emit + text[resume:p], p, p, panic
    return emit, end, resume, panic


def _decode_attr_value(s: str) -> str:
    """Char-reference decoding of one complete attribute value, for the
    whole-tag fast path when a captured value contains '&'.  The caller
    guarantees no NUL inside ``s``; the value's real terminator (its quote,
    or [\\t\\n\\x0c >] when unquoted) is never alphanumeric, ';', '=' or
    '#', so a '"' appended to ``s`` stands in for it in ``_char_ref``."""
    t = s + '"'
    out: list = []
    i = 0
    while True:
        j = s.find("&", i)
        if j < 0:
            out.append(s[i:])
            return "".join(out)
        out.append(s[i:j])
        emit, _, i, _ = _char_ref(t, j, True)
        out.append(emit)


def tokenize(text: str, initial_state: int = DATA):
    """Run the automaton over ``text``; return
    ``(tokens, parse_status, err_count)``.

    ``initial_state`` exposes the RCDATA/RAWTEXT/script-data/PLAINTEXT
    families (reference state.rs:2-323): in the reference they are
    unreachable from Data — the tree-builder feedback that would select
    them is unimplemented (SURVEY.md §2.4) — so the default entry point
    reproduces that topology exactly, while a caller tokenizing e.g. a
    raw <script> body can opt in.

    ``err_count`` counts end tags silently dropped by the open-tags stack
    filter (the reference's signature quirk, mod.rs:3756-3779) — the only
    parse-error signal the reference's output shape exposes.

    Always terminates (see module docstring for the divergence ledger).
    """
    n = len(text)
    tokens: list = []
    out = tokens.append

    # pending coalesced character run + its source attribution
    run: list = []
    run_push = run.append
    run_first = -1
    run_last_end = -1

    def flush_run():
        nonlocal run, run_first, run_last_end, run_push
        if run:
            out(("chars", "".join(run), run_first, run_last_end))
            run = []
            run_push = run.append
            run_first = -1

    # the reference's registers (mod.rs:17-37) but return_state and
    # character_reference_code, which only _char_ref's family needs
    state = initial_state
    pos = 0  # index of next char to consume
    cur: str | None = None  # current_character
    cur_idx = -1  # source index of cur (n at EOF)
    recon = False  # reconsume flag
    temp_buf: str | None = None  # temporary_buffer (None ≡ Rust None)
    open_tags: list[str] = []

    # current token registers (exactly one kind active at a time)
    tok_kind = 0  # 0 none, 1 tag, 2 comment, 3 doctype
    tag_name = ""
    tag_attrs: list = []
    tag_self_closing = False
    tag_is_end = False
    comment_data = ""
    dt_name = ""
    dt_ids: list = [None, None]  # public and system identifiers
    dt_quirks = False

    status = OK
    err_count = 0  # end tags dropped by the stack filter
    lt_idx = -1  # source index of the pending '<' in the *-less-than-sign states

    def emit_chars(s: str, src_start: int, src_end: int):
        nonlocal run_first, run_last_end
        if not run:
            run_first = src_start
        run_push(s)
        run_last_end = src_end

    def emit_current_tag():
        # reference: emit_current_tag_token mod.rs:3756-3779 — THE stack quirk
        nonlocal tok_kind, err_count
        if tok_kind != 1:
            tok_kind = 0
            return
        tok_kind = 0
        if not tag_self_closing:
            if tag_is_end:
                if open_tags and open_tags[-1] == tag_name:
                    open_tags.pop()
                    flush_run()
                    out(("end", tag_name, tag_attrs, tag_self_closing))
                else:
                    err_count += 1  # silently dropped by the reference
            else:
                open_tags.append(tag_name)
                flush_run()
                out(("start", tag_name, tag_attrs, tag_self_closing))
        else:
            flush_run()
            out(
                (
                    "end" if tag_is_end else "start",
                    tag_name,
                    tag_attrs,
                    tag_self_closing,
                )
            )

    def emit_doctype():
        # reference: emit_current_token mod.rs:3738-3743 — generic take-and-
        # push: emits WHATEVER the current token is, bypassing the open-tags
        # stack filter.  Used by every DOCTYPE emission site.
        nonlocal tok_kind
        if tok_kind == 3:
            flush_run()
            out(("doctype", dt_name, dt_ids[0], dt_ids[1], dt_quirks))
        elif tok_kind == 2:
            flush_run()
            out(("comment", comment_data))
        elif tok_kind == 1:
            flush_run()
            out(
                (
                    "end" if tag_is_end else "start",
                    tag_name,
                    tag_attrs,
                    tag_self_closing,
                )
            )
        tok_kind = 0

    def emit_comment():
        # reference: emit_current_comment_token mod.rs:3745-3754 — only if
        # the current token is a comment (otherwise silently dropped)
        nonlocal tok_kind
        if tok_kind == 2:
            flush_run()
            out(("comment", comment_data))
        tok_kind = 0

    done = False

    def emit_eof():
        nonlocal done
        flush_run()
        out(("eof",))
        done = True

    while not done:
        if not recon and pos < n:
            # bulk runs, ahead of the consume step (nothing is pending
            # reconsumption): DATA's two fast paths (the fused run+tag
            # match, then the text run and a bulk '&'), or the state's
            # _RUN_BREAK scan; any other '<' goes to the consume step
            if state == DATA:
                # fused run+tag fast path: the overwhelmingly common DATA
                # shape is "text run then subset tag" — one C-level regex
                # call parses both (see _DATA_TAG soundness note)
                mdt = _DATA_TAG.match(text, pos)
                if mdt is not None:
                    tag_end = mdt.end()
                    j = mdt.end(1)
                    if j > pos:
                        if not run:
                            run_first = pos
                        run_push(text[pos:j])
                        run_last_end = j
                    src = text[j:tag_end]
                    hit = _TAG_MEMO.get(src)
                    if hit is not None:
                        end_slash, name, pairs, sc_slash = hit
                        # fresh attr lists per hit (CLAUDE.md invariant);
                        # the attr-less common case skips the listcomp call
                        attrs = [[a, b] for a, b in pairs] if pairs else []
                    else:
                        end_slash, name, g3, sc_slash = mdt.group(2, 3, 4, 5)
                        name = name.lower()  # TAG_NAME A-Z fold (+0x20)
                        end_slash = end_slash == "/"
                        sc_slash = sc_slash == "/"
                        attrs = []
                        if g3:
                            for am in _FAST_ATTR.finditer(g3):
                                v = am.group(2)
                                if v is None:
                                    v = ""
                                else:
                                    if v[0] == '"' or v[0] == "'":
                                        v = v[1:-1]
                                    if "&" in v:
                                        v = _decode_attr_value(v)
                                attrs.append([am.group(1), v])
                        if len(_TAG_MEMO) >= _TAG_MEMO_MAX:
                            _TAG_MEMO.clear()
                        _TAG_MEMO[src] = (
                            end_slash,
                            name,
                            tuple((a[0], a[1]) for a in attrs),
                            sc_slash,
                        )
                    if sc_slash:
                        # self-closing bypasses the open-tags stack
                        if run:
                            out(("chars", "".join(run), run_first, run_last_end))
                            run.clear()
                            run_first = -1
                        out(("end" if end_slash else "start", name, attrs, True))
                    elif end_slash:
                        if open_tags and open_tags[-1] == name:
                            open_tags.pop()
                            if run:
                                out(("chars", "".join(run), run_first, run_last_end))
                                run.clear()
                                run_first = -1
                            out(("end", name, attrs, False))
                        else:
                            err_count += 1  # dropped by the stack filter
                    else:
                        open_tags.append(name)
                        if run:
                            out(("chars", "".join(run), run_first, run_last_end))
                            run.clear()
                            run_first = -1
                        out(("start", name, attrs, False))
                    pos = tag_end
                    continue
                m = _DATA_BREAK.search(text, pos)
                j = m.start() if m else n
                if j > pos:
                    if not run:
                        run_first = pos
                    run_push(text[pos:j])
                    run_last_end = j
                    pos = j
                if j < n and text[j] == "&":
                    emit, end, pos, panic = _char_ref(text, j, False)
                    if emit:
                        emit_chars(emit, j, end)
                    if panic:
                        status = PANIC
                    continue
            else:
                brk = _RUN_BREAK.get(state)
                if brk is not None:
                    m = brk.search(text, pos)
                    j = m.start() if m else n
                    if j > pos:
                        chunk = text[pos:j]
                        if state == TAG_NAME:
                            tag_name += chunk
                        elif state == ATTR_NAME:
                            if tok_kind == 1 and tag_attrs:
                                tag_attrs[-1][0] += chunk
                        elif state in _ATTR_VALUE_STATES:
                            if tok_kind == 1 and tag_attrs:
                                tag_attrs[-1][1] += chunk
                        elif state == COMMENT or state == BOGUS_COMMENT:
                            if tok_kind == 2:
                                comment_data += chunk
                        else:  # CDATA_SECTION
                            emit_chars(chunk, pos, j)
                        pos = j

        # the consume step (mod.rs:3798-3806): reconsume the current
        # character or advance by one; every handler below starts from c
        if recon:
            recon = False
            c = cur
        elif pos < n:
            c = cur = text[pos]
            cur_idx = pos
            pos += 1
        else:
            c = cur = None
            cur_idx = n

        if state == DATA:
            # mod.rs:179-206
            if c is None:
                emit_eof()
            elif c == "&":
                emit, end, pos, panic = _char_ref(text, cur_idx, False)
                if emit:
                    emit_chars(emit, cur_idx, end)
                if panic:
                    status = PANIC
            elif c == "<":
                state = TAG_OPEN
            else:
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == TAG_OPEN:
            # mod.rs:209-250
            if c is None:
                emit_chars("<", cur_idx - 1, cur_idx)
                emit_eof()
            elif c == "!":
                state = MARKUP_DECL_OPEN
            elif c == "/":
                state = END_TAG_OPEN
            elif c == "?":
                recon = True
                state = BOGUS_COMMENT
                tok_kind = 2
                comment_data = ""
            elif _is_alphabetic(c):
                tok_kind = 1
                tag_name = ""
                tag_attrs = []
                tag_self_closing = False
                tag_is_end = False
                recon = True
                state = TAG_NAME
            else:
                recon = True
                state = DATA
                emit_chars("<", cur_idx - 1, cur_idx)

        elif state == TAG_NAME:
            # mod.rs:286-330
            if c is None:
                emit_eof()
            elif c in _WS:
                state = BEFORE_ATTR_NAME
            elif c == "/":
                state = SELF_CLOSING
            elif c == ">":
                state = DATA
                emit_current_tag()
            elif c in _ASCII_UPPER:
                tag_name += chr(ord(c) + 0x20)
            elif c == "\x00":
                tag_name += REPLACEMENT
            else:
                tag_name += c

        elif state == END_TAG_OPEN:
            # mod.rs:253-283 — ASCII alpha only (unlike tag open)
            if c is None:
                emit_chars("</", cur_idx - 2, cur_idx)
                emit_eof()
            elif c in _ASCII_ALPHA:
                tok_kind = 1
                tag_name = ""
                tag_attrs = []
                tag_self_closing = False
                tag_is_end = True
                recon = True
                state = TAG_NAME
            elif c == ">":
                state = DATA
            else:
                tok_kind = 2
                comment_data = ""
                recon = True
                state = BOGUS_COMMENT

        elif state == BEFORE_ATTR_NAME:
            # mod.rs:333-371
            if c is None:
                recon = True
                state = AFTER_ATTR_NAME
            elif c in _WS:
                pass
            elif c == "/" or c == ">":
                recon = True
                state = AFTER_ATTR_NAME
            elif c == "=":
                if tok_kind == 1:
                    tag_attrs.append(["=", ""])
                state = ATTR_NAME
            else:
                if tok_kind == 1:
                    tag_attrs.append(["", ""])
                recon = True
                state = ATTR_NAME

        elif state == ATTR_NAME:
            # mod.rs:379-423 — duplicate attributes kept (dedup unimplemented)
            if c is None:
                recon = True
                state = AFTER_ATTR_NAME
            elif c in _WS or c == "/" or c == ">":
                recon = True
                state = AFTER_ATTR_NAME
            elif c == "=":
                state = BEFORE_ATTR_VALUE
            elif c in _ASCII_UPPER:
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][0] += chr(ord(c) + 0x20)
            elif c == "\x00":
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][0] += REPLACEMENT
            else:
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][0] += c

        elif state == AFTER_ATTR_NAME:
            # mod.rs:426-464
            if c is None:
                emit_eof()
            elif c in _WS:
                pass
            elif c == "/":
                state = SELF_CLOSING
            elif c == "=":
                state = BEFORE_ATTR_VALUE
            elif c == ">":
                state = DATA
                emit_current_tag()
            else:
                if tok_kind == 1:
                    tag_attrs.append(["", ""])
                recon = True
                state = ATTR_NAME

        elif state == BEFORE_ATTR_VALUE:
            # mod.rs:467-504 — EOF falls through to unquoted (quirk)
            if c is None:
                recon = True
                state = ATTR_VALUE_UQ
            elif c in _WS:
                pass
            elif c == '"':
                state = ATTR_VALUE_DQ
            elif c == "'":
                state = ATTR_VALUE_SQ
            elif c == ">":
                state = DATA
                emit_current_tag()
            else:
                recon = True
                state = ATTR_VALUE_UQ

        elif state == ATTR_VALUE_DQ or state == ATTR_VALUE_SQ:
            # mod.rs:507-537, 540-571 (identical shapes but the quote)
            if c is None:
                emit_eof()
            elif c == _QUOTE[state]:
                state = AFTER_ATTR_VALUE_Q
            elif c == "&":
                emit, _, pos, _ = _char_ref(text, cur_idx, True)
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][1] += emit
            elif c == "\x00":
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][1] += REPLACEMENT
            else:
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][1] += c

        elif state == ATTR_VALUE_UQ:
            # mod.rs:574-620
            if c is None:
                emit_eof()
            elif c in _WS:
                state = BEFORE_ATTR_NAME
            elif c == "&":
                emit, _, pos, _ = _char_ref(text, cur_idx, True)
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][1] += emit
            elif c == ">":
                state = DATA
                emit_current_tag()
            elif c == "\x00":
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][1] += REPLACEMENT
            else:
                if tok_kind == 1 and tag_attrs:
                    tag_attrs[-1][1] += c

        elif state == AFTER_ATTR_VALUE_Q:
            # mod.rs:623-657
            if c is None:
                emit_eof()
            elif c in _WS:
                state = BEFORE_ATTR_NAME
            elif c == "/":
                state = SELF_CLOSING
            elif c == ">":
                state = DATA
                emit_current_tag()
            else:
                recon = True
                state = BEFORE_ATTR_NAME

        elif state == SELF_CLOSING:
            # mod.rs:660-685
            if c is None:
                emit_eof()
            elif c == ">":
                if tok_kind == 1:
                    tag_self_closing = True
                state = DATA
                emit_current_tag()
            else:
                recon = True
                state = BEFORE_ATTR_NAME

        elif state == BOGUS_COMMENT:
            # mod.rs:688-715
            if c is None:
                recon = True
                state = DATA
                emit_comment()
            elif c == ">":
                state = DATA
                emit_comment()
            elif c == "\x00":
                if tok_kind == 2:
                    comment_data += REPLACEMENT
            else:
                if tok_kind == 2:
                    comment_data += c

        elif state == MARKUP_DECL_OPEN:
            # mod.rs:1098-1126 — NO EOF arm in the reference: hangs forever
            if c is None:
                status = HANG
                emit_eof()
            elif c == "-" or c == "D" or c == "[":
                # consume_double_hyphen / consume_doctype / consume_cdata
                # (mod.rs:3458-3552): only uppercase 'D' dispatches and the
                # rest of DOCTYPE is case-insensitive; CDATA is case-
                # sensitive and always entered (no adjusted-current-node
                # check).  A partial match appends the matched goal chars
                # (DOCTYPE in upper case) to a bogus comment.
                goal, nxt = _MARKUP_DECL[c]
                k, pos, cur, cur_idx = _keyword_lookahead(text, cur_idx, goal, c == "D")
                if k == len(goal):
                    if nxt == COMMENT_START:
                        tok_kind = 2
                        comment_data = ""
                    state = nxt
                else:
                    tok_kind = 2
                    comment_data = goal[:k]
                    recon = True
                    state = BOGUS_COMMENT
            else:
                tok_kind = 2
                comment_data = ""
                recon = True
                state = BOGUS_COMMENT

        elif state == COMMENT_START:
            # mod.rs:1129-1153
            if c is None:
                recon = True
                state = COMMENT
            elif c == "-":
                state = COMMENT_START_DASH
            elif c == ">":
                state = DATA
                emit_comment()
            else:
                recon = True
                state = COMMENT

        elif state == COMMENT_START_DASH:
            # mod.rs:1156-1185
            if c is None:
                emit_comment()
                emit_eof()
            elif c == "-":
                state = COMMENT_END
            elif c == ">":
                state = DATA
                emit_comment()
            else:
                if tok_kind == 2:
                    comment_data += "-"
                recon = True
                state = COMMENT

        elif state == COMMENT:
            # mod.rs:1188-1221
            if c is None:
                emit_comment()
                emit_eof()
            elif c == "<":
                if tok_kind == 2:
                    comment_data += c
                state = COMMENT_LTS
            elif c == "-":
                state = COMMENT_END_DASH
            elif c == "\x00":
                if tok_kind == 2:
                    comment_data += REPLACEMENT
            else:
                if tok_kind == 2:
                    comment_data += c

        elif state == COMMENT_LTS:
            # mod.rs:1304-1329
            if c is None:
                recon = True
                state = COMMENT
            elif c == "!":
                if tok_kind == 2:
                    comment_data += c
                state = COMMENT_LTS_BANG
            elif c == "<":
                if tok_kind == 2:
                    comment_data += c
            else:
                recon = True
                state = COMMENT

        elif state == COMMENT_LTS_BANG:
            # mod.rs:1332-1351
            if c is None:
                recon = True
                state = COMMENT
            elif c == "-":
                state = COMMENT_LTS_BANG_DASH
            else:
                recon = True
                state = COMMENT

        elif state == COMMENT_LTS_BANG_DASH:
            # mod.rs:1354-1373
            if c is None:
                recon = True
                state = COMMENT_END_DASH
            elif c == "-":
                state = COMMENT_LTS_BANG_DASH_DASH
            else:
                recon = True
                state = COMMENT_END_DASH

        elif state == COMMENT_LTS_BANG_DASH_DASH:
            # mod.rs:1376-1395 — all arms reconsume in comment end
            recon = True
            state = COMMENT_END

        elif state == COMMENT_END_DASH:
            # mod.rs:1398-1416 — NO EOF arm in the reference: hangs forever
            if c is None:
                status = HANG
                emit_eof()
            elif c == "-":
                state = COMMENT_END
            else:
                if tok_kind == 2:
                    comment_data += "-"
                recon = True
                state = COMMENT

        elif state == COMMENT_END:
            # mod.rs:1224-1262
            if c is None:
                emit_comment()
                emit_eof()
            elif c == ">":
                state = DATA
                emit_comment()
            elif c == "!":
                state = COMMENT_END_BANG
            elif c == "-":
                if tok_kind == 2:
                    comment_data += "-"
            else:
                if tok_kind == 2:
                    comment_data += "--"
                recon = True
                state = COMMENT

        elif state == COMMENT_END_BANG:
            # mod.rs:1265-1301
            if c is None:
                emit_comment()
                emit_eof()
            elif c == "-":
                if tok_kind == 2:
                    comment_data += "--!"
                state = COMMENT_END_DASH
            elif c == ">":
                state = DATA
                emit_comment()
            else:
                if tok_kind == 2:
                    comment_data += "--!"
                recon = True
                state = COMMENT

        elif state == DOCTYPE:
            # mod.rs:1419-1453
            if c is None:
                tok_kind = 3
                dt_name = ""
                dt_ids = [None, None]
                dt_quirks = True
                emit_doctype()
                emit_eof()
            elif c in _WS:
                state = BEFORE_DOCTYPE_NAME
            else:  # '>' and anything else both reconsume
                recon = True
                state = BEFORE_DOCTYPE_NAME

        elif state == BEFORE_DOCTYPE_NAME:
            # mod.rs:1456-1513
            if c is None:
                tok_kind = 3
                dt_name = ""
                dt_ids = [None, None]
                dt_quirks = True
                emit_doctype()
                emit_eof()
            elif c in _WS:
                pass
            elif c in _ASCII_UPPER:
                tok_kind = 3
                dt_name = chr(ord(c) + 0x20)
                dt_ids = [None, None]
                dt_quirks = False
                state = DOCTYPE_NAME
            elif c == "\x00":
                tok_kind = 3
                dt_name = REPLACEMENT
                dt_ids = [None, None]
                dt_quirks = False
                state = DOCTYPE_NAME
            elif c == ">":
                tok_kind = 3
                dt_name = ""
                dt_ids = [None, None]
                dt_quirks = True
                state = DATA
                emit_doctype()
            else:
                tok_kind = 3
                dt_name = c
                dt_ids = [None, None]
                dt_quirks = False
                state = DOCTYPE_NAME

        elif state == DOCTYPE_NAME:
            # mod.rs:1516-1562
            if c is None:
                dt_quirks = True
                emit_doctype()
                emit_eof()
            elif c in _WS:
                state = AFTER_DOCTYPE_NAME
            elif c == ">":
                state = DATA
                emit_doctype()
            elif c in _ASCII_UPPER:
                dt_name += chr(ord(c) + 0x20)
            elif c == "\x00":
                dt_name += REPLACEMENT
            else:
                dt_name += c

        elif state == AFTER_DOCTYPE_NAME:
            # mod.rs:1565-1612 — NO EOF arm in the reference: hangs forever
            if c is None:
                status = HANG
                emit_eof()
            elif c in _WS:
                pass
            elif c == ">":
                state = DATA
                emit_doctype()
            else:
                u = chr(ord(c) - 0x20) if "a" <= c <= "z" else c
                if u == "P" or u == "S":
                    # consume_public_keyword / consume_system_keyword
                    # (mod.rs:3410-3456), case-insensitive
                    goal, nxt = _DOCTYPE_KEYWORD[u]
                    k, pos, cur, cur_idx = _keyword_lookahead(text, cur_idx, goal, True)
                    if k == len(goal):
                        state = nxt
                    else:
                        recon = True
                        state = BOGUS_DOCTYPE
                else:
                    dt_quirks = True
                    recon = True
                    state = BOGUS_DOCTYPE

        elif state in _DT_BEFORE_ID:
            # mod.rs:1615-1669, 1705-1756, 1845-1955, 1958-2074 (identical
            # shapes but the identifier, the whitespace target and '>')
            k, ws_state, gt_quirks = _DT_BEFORE_ID[state]
            if c is None:
                dt_quirks = True
                emit_doctype()
                emit_eof()
            elif c in _WS:
                state = ws_state
            elif c == '"' or c == "'":
                dt_ids[k] = ""
                state = _DT_ID_OPEN[k][c]
            elif c == ">":
                if gt_quirks:
                    dt_quirks = True
                state = DATA
                emit_doctype()
            else:
                dt_quirks = True
                recon = True
                state = BOGUS_DOCTYPE

        elif state in _DT_QUOTED_ID:
            # mod.rs:1759-1842, 2077-2160 (identical shapes but the
            # identifier and the quote)
            k, after = _DT_QUOTED_ID[state]
            if c is None:
                dt_quirks = True
                emit_doctype()
                emit_eof()
            elif c == _QUOTE[state]:
                state = after
            elif c == "\x00":
                if dt_ids[k] is not None:
                    dt_ids[k] += REPLACEMENT
            elif c == ">":
                dt_quirks = True
                state = DATA
                emit_doctype()
            else:
                if dt_ids[k] is not None:
                    dt_ids[k] += c

        elif state == AFTER_SYSTEM_ID:
            # mod.rs:2163-2196
            if c is None:
                emit_doctype()
                emit_eof()
            elif c in _WS:
                pass
            elif c == ">":
                state = DATA
                emit_doctype()
            else:
                recon = True
                state = BOGUS_DOCTYPE

        elif state == BOGUS_DOCTYPE:
            # mod.rs:1672-1702 — swallows until '>'
            if c is None:
                emit_doctype()
                emit_eof()
            elif c == ">":
                state = DATA
                emit_doctype()
            # else: ignore

        elif state == CDATA_SECTION:
            # mod.rs:2199-2223 — emits chars raw
            if c is None:
                emit_eof()
            elif c == "]":
                state = CDATA_BRACKET
            else:
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == CDATA_BRACKET:
            # mod.rs:2226-2249
            if c is None:
                emit_chars("]", cur_idx - 1, cur_idx)
                recon = True
                state = CDATA_SECTION
            elif c == "]":
                state = CDATA_END
            else:
                emit_chars("]", cur_idx - 1, cur_idx)
                recon = True
                state = CDATA_SECTION

        elif state == CDATA_END:
            # mod.rs:2252-2284
            if c is None:
                emit_chars("]]", cur_idx - 2, cur_idx)
                emit_eof()
            elif c == "]":
                emit_chars("]", cur_idx - 1, cur_idx)
            elif c == ">":
                state = DATA
            else:
                emit_chars("]]", cur_idx - 2, cur_idx)
                recon = True
                state = CDATA_SECTION


        # ------------------------------------------------------------------
        # RCDATA / RAWTEXT / script-data / PLAINTEXT families — reachable
        # only via ``initial_state`` (reference topology: unreachable,
        # SURVEY.md §2.4).  Spec-faithful like the reference, including its
        # deviation: the "appropriate end tag" check compares against
        # ``open_tags[-1]`` instead of the last start tag emitted
        # (mod.rs:3724-3736), and the '>' arm emits through the *generic*
        # emitter, bypassing the stack filter (mod.rs:3738-3743).

        elif state == RCDATA:
            # mod.rs:2287-2321
            if c is None:
                emit_eof()
            elif c == "&":
                emit, end, pos, panic = _char_ref(text, cur_idx, False)
                if emit:
                    emit_chars(emit, cur_idx, end)
                if panic:
                    status = PANIC
            elif c == "<":
                lt_idx = cur_idx
                state = RCDATA_LTS
            elif c == "\x00":
                emit_chars(REPLACEMENT, cur_idx, cur_idx + 1)
            else:
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == RAWTEXT or state == SCRIPT_DATA:
            # mod.rs:2324-2349, 2352-2379 (identical shapes)
            if c is None:
                emit_eof()
            elif c == "<":
                lt_idx = cur_idx
                state = _RAWTEXTISH[state]
            elif c == "\x00":
                emit_chars(REPLACEMENT, cur_idx, cur_idx + 1)
            else:
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == PLAINTEXT:
            # mod.rs:2382-2399
            if c is None:
                emit_eof()
            elif c == "\x00":
                emit_chars(REPLACEMENT, cur_idx, cur_idx + 1)
            else:
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == RCDATA_LTS or state == RAWTEXT_LTS:
            # mod.rs:2402-2426, 2552-2576
            back = RCDATA if state == RCDATA_LTS else RAWTEXT
            eto = RCDATA_END_TAG_OPEN if state == RCDATA_LTS else RAWTEXT_END_TAG_OPEN
            if c == "/":
                temp_buf = ""
                state = eto
            else:
                emit_chars("<", lt_idx, lt_idx + 1)
                recon = True
                state = back

        elif state == SCRIPT_LTS:
            # mod.rs:2692-2724
            if c == "/":
                temp_buf = ""
                state = SCRIPT_END_TAG_OPEN
            elif c == "!":
                state = SCRIPT_ESCAPE_START
                emit_chars("<!", lt_idx, lt_idx + 2)
            else:
                emit_chars("<", lt_idx, lt_idx + 1)
                recon = True
                state = SCRIPT_DATA

        elif state in _ETO_FAMILY:
            # mod.rs:2429-2451, 2579-2601, 2727-2749, 3040-3062
            name_state, back = _ETO_FAMILY[state]
            if c is not None and c in _ASCII_ALPHA:
                tok_kind = 1
                tag_is_end = True
                tag_name = ""
                tag_attrs = []
                tag_self_closing = False
                recon = True
                state = name_state
            else:
                emit_chars("</", lt_idx, lt_idx + 2)
                recon = True
                state = back

        elif state in _ETN_FAMILY:
            # mod.rs:2454-2549, 2604-2689, 2752-2838, 3065-3160
            back = _ETN_FAMILY[state]
            appropriate = bool(open_tags) and open_tags[-1] == tag_name
            if c is not None and c in _WS and appropriate:
                state = BEFORE_ATTR_NAME
            elif c == "/" and appropriate:
                state = SELF_CLOSING
            elif c == ">" and appropriate:
                state = DATA
                emit_doctype()  # generic emitter — bypasses the stack filter
            elif c is not None and c in _ASCII_UPPER:
                tag_name += chr(ord(c) + 0x20)
                temp_buf = (temp_buf or "") + c
            elif c is not None and c in _ASCII_LOWER:
                tag_name += c
                temp_buf = (temp_buf or "") + c
            elif c is None and state in (
                RAWTEXT_END_TAG_NAME,
                SCRIPT_END_TAG_NAME,
            ):
                # mod.rs rawtext_end_tag_name_state /
                # script_data_end_tag_name_state: NO EOF arm in the
                # reference (unlike the rcdata/script-escaped twins, which
                # spec-compliantly re-emit + reconsume) — hangs forever.
                # Found by probe-v2 binary differential (RAWTEXT "</title").
                status = HANG
                emit_eof()
            else:
                buf = temp_buf if temp_buf is not None else ""
                emit_chars("</" + buf, lt_idx, lt_idx + 2 + len(buf))
                recon = True
                state = back

        elif state == SCRIPT_ESCAPE_START or state == SCRIPT_ESCAPE_START_DASH:
            # mod.rs:2841-2859, 2862-2881
            nxt = (
                SCRIPT_ESCAPE_START_DASH
                if state == SCRIPT_ESCAPE_START
                else SCRIPT_ESCAPED_DASH_DASH
            )
            if c == "-":
                state = nxt
                emit_chars("-", cur_idx, cur_idx + 1)
            else:
                recon = True
                state = SCRIPT_DATA

        elif state == SCRIPT_ESCAPED or state == SCRIPT_DOUBLE_ESCAPED:
            # mod.rs:2884-2918, 3214-3249
            dbl = state == SCRIPT_DOUBLE_ESCAPED
            if c is None:
                emit_eof()
            elif c == "-":
                state = SCRIPT_DOUBLE_ESCAPED_DASH if dbl else SCRIPT_ESCAPED_DASH
                emit_chars("-", cur_idx, cur_idx + 1)
            elif c == "<":
                lt_idx = cur_idx
                if dbl:
                    state = SCRIPT_DOUBLE_ESCAPED_LTS
                    emit_chars("<", cur_idx, cur_idx + 1)
                else:
                    state = SCRIPT_ESCAPED_LTS
            elif c == "\x00":
                emit_chars(REPLACEMENT, cur_idx, cur_idx + 1)
            else:
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == SCRIPT_ESCAPED_DASH or state == SCRIPT_DOUBLE_ESCAPED_DASH:
            # mod.rs:2921-2957, 3252-3289
            dbl = state == SCRIPT_DOUBLE_ESCAPED_DASH
            if c is None:
                emit_eof()
            elif c == "-":
                state = (
                    SCRIPT_DOUBLE_ESCAPED_DASH_DASH if dbl else SCRIPT_ESCAPED_DASH_DASH
                )
                emit_chars("-", cur_idx, cur_idx + 1)
            elif c == "<":
                lt_idx = cur_idx
                if dbl:
                    state = SCRIPT_DOUBLE_ESCAPED_LTS
                    emit_chars("<", cur_idx, cur_idx + 1)
                else:
                    state = SCRIPT_ESCAPED_LTS
            elif c == "\x00":
                state = SCRIPT_DOUBLE_ESCAPED if dbl else SCRIPT_ESCAPED
                emit_chars(REPLACEMENT, cur_idx, cur_idx + 1)
            else:
                state = SCRIPT_DOUBLE_ESCAPED if dbl else SCRIPT_ESCAPED
                emit_chars(c, cur_idx, cur_idx + 1)

        elif (
            state == SCRIPT_ESCAPED_DASH_DASH
            or state == SCRIPT_DOUBLE_ESCAPED_DASH_DASH
        ):
            # mod.rs:2960-3002, 3292-3334
            dbl = state == SCRIPT_DOUBLE_ESCAPED_DASH_DASH
            if c is None:
                emit_eof()
            elif c == "-":
                emit_chars("-", cur_idx, cur_idx + 1)
            elif c == "<":
                lt_idx = cur_idx
                if dbl:
                    # reference deviation: the double_escaped_dash_dash
                    # '<' arm's spec comment says emit '<' but the code
                    # only switches (double_escaped_dash DOES emit) —
                    # found by probe-v2 differential
                    # ("<!--<script><!--<script>" from ScriptData)
                    state = SCRIPT_DOUBLE_ESCAPED_LTS
                else:
                    state = SCRIPT_ESCAPED_LTS
            elif c == ">":
                state = SCRIPT_DATA
                emit_chars(">", cur_idx, cur_idx + 1)
            elif c == "\x00":
                state = SCRIPT_DOUBLE_ESCAPED if dbl else SCRIPT_ESCAPED
                emit_chars(REPLACEMENT, cur_idx, cur_idx + 1)
            else:
                state = SCRIPT_DOUBLE_ESCAPED if dbl else SCRIPT_ESCAPED
                emit_chars(c, cur_idx, cur_idx + 1)

        elif state == SCRIPT_ESCAPED_LTS:
            # mod.rs:3005-3037
            if c == "/":
                temp_buf = ""
                state = SCRIPT_ESCAPED_END_TAG_OPEN
            elif c is not None and c in _ASCII_ALPHA:
                temp_buf = ""
                emit_chars("<", lt_idx, lt_idx + 1)
                recon = True
                state = SCRIPT_DOUBLE_ESCAPE_START
            else:
                emit_chars("<", lt_idx, lt_idx + 1)
                recon = True
                state = SCRIPT_ESCAPED

        elif state == SCRIPT_DOUBLE_ESCAPED_LTS:
            # mod.rs:3337-3357
            if c == "/":
                temp_buf = ""
                state = SCRIPT_DOUBLE_ESCAPE_END
                emit_chars("/", cur_idx, cur_idx + 1)
            else:
                recon = True
                state = SCRIPT_DOUBLE_ESCAPED

        elif state in _DBL_ESCAPE:
            # mod.rs:3163-3211, 3360-3408 — NB the reference emits the
            # terminator char only in the buffer-mismatch arm
            match_state, else_state = _DBL_ESCAPE[state]
            anything_else = (
                SCRIPT_ESCAPED
                if state == SCRIPT_DOUBLE_ESCAPE_START
                else SCRIPT_DOUBLE_ESCAPED
            )
            if c is not None and (c in _WS or c == "/" or c == ">"):
                if (temp_buf if temp_buf is not None else "") == "script":
                    state = match_state
                else:
                    state = else_state
                    emit_chars(c, cur_idx, cur_idx + 1)
            elif c is not None and c in _ASCII_UPPER:
                temp_buf = (temp_buf or "") + chr(ord(c) + 0x20)
                emit_chars(c, cur_idx, cur_idx + 1)
            elif c is not None and c in _ASCII_LOWER:
                temp_buf = (temp_buf or "") + c
                emit_chars(c, cur_idx, cur_idx + 1)
            else:
                recon = True
                state = anything_else

        else:  # pragma: no cover — exhaustive dispatch (13-20 and 22 are no state)
            raise AssertionError(f"unreachable state {state}")

    return tokens, status, err_count
