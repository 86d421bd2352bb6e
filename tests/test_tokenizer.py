"""Tokenizer unit tests: reference unit tests verbatim, probe-case goldens,
and quirk-ledger assertions (no Spark)."""

from html_parser_spark.functions.tokenizer import tokenize
from html_parser_spark.functions.entities import ENTITIES


def as_golden(tokens):
    out = []
    for t in tokens:
        k = t[0]
        if k == "chars":
            out.append(["chars", t[1]])
        elif k in ("start", "end"):
            out.append([k, t[1], [list(a) for a in t[2]], t[3]])
        elif k == "comment":
            out.append(["comment", t[1]])
        elif k == "doctype":
            out.append(["doctype", t[1], t[2], t[3], t[4]])
        else:
            out.append(["eof"])
    return out


def test_reference_unit_test_comment():
    # reference: mod.rs:3831-3837
    toks, status, _ = tokenize("<!--Hello World-->")
    assert status == "ok"
    assert as_golden(toks) == [["comment", "Hello World"], ["eof"]]


def test_reference_unit_test_basic_html():
    # reference: mod.rs:3839-3873 (27 tokens; Char runs coalesced here)
    toks, status, _ = tokenize(
        "<!DOCTYPE html><html><head><title>Test</title></head>"
        "<body><h1>Hello World</h1></body></html>"
    )
    assert status == "ok"
    assert as_golden(toks) == [
        ["doctype", "html", None, None, False],
        ["start", "html", [], False],
        ["start", "head", [], False],
        ["start", "title", [], False],
        ["chars", "Test"],
        ["end", "title", [], False],
        ["end", "head", [], False],
        ["start", "body", [], False],
        ["start", "h1", [], False],
        ["chars", "Hello World"],
        ["end", "h1", [], False],
        ["end", "body", [], False],
        ["end", "html", [], False],
        ["eof"],
    ]


def test_probe_cases(probe_cases):
    """Every curated case must match the reference binary's observed output."""
    for case in probe_cases:
        toks, status, _ = tokenize(case["text"])
        if case["status"] == "hang":
            assert status == "hang_in_reference", case["text"]
        elif case["status"] == "panic":
            assert status == "panic_in_reference", case["text"]
        else:
            assert status == "ok", (case["text"], status)
            assert as_golden(toks) == case["tokens"], case["text"]


def test_golden_corpus_tokens(golden_sf0001):
    """Token-stream equality vs the reference on all 1,000 sf0.001 turns."""
    from html_parser_spark.fixtures import gen_rows

    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in gen_rows(0.001)}
    assert len(texts) == len(golden_sf0001)
    for g in golden_sf0001:
        text = texts[(g["conv_id"], g["turn_idx"])]
        toks, status, _ = tokenize(text)
        assert status == "ok"
        assert as_golden(toks) == g["tokens"], (g["conv_id"], g["turn_idx"])


def test_entity_table_size():
    assert len(ENTITIES) == 2221
    # spot-check the 10 deliberate omissions and key quirks
    assert "&nbsp" not in ENTITIES and "&nbsp;" in ENTITIES
    assert "&lt" not in ENTITIES and "&lt;" in ENTITIES
    assert ENTITIES["&AMP"] == "&"


def test_stack_poisoning_quirk():
    toks, _, err = tokenize("<body><br></body>")
    assert as_golden(toks) == [
        ["start", "body", [], False],
        ["start", "br", [], False],
        ["eof"],
    ]
    assert err == 1  # dropped </body>


def test_spans_within_bounds(golden_sf0001):
    from html_parser_spark.fixtures import gen_rows

    for r in list(gen_rows(0.001))[:200]:
        toks, _, _ = tokenize(r["text"])
        n = len(r["text"])
        for t in toks:
            if t[0] == "chars":
                assert 0 <= t[2] <= t[3] <= n, (r["conv_id"], r["turn_idx"], t[2:])


def test_abrupt_comment_close_not_swallowed_by_fast_path():
    """"<!-->" is an abrupt close: COMMENT_START's '>' arm emits an empty
    comment and DATA reprocesses the rest (the reference emits comment ""
    + chars "x-->"), so the '>' never lands in the comment body."""
    from html_parser_spark.functions.tokenizer import tokenize

    toks, status, _ = tokenize("<!-->x-->")
    assert status == "ok"
    assert toks[0] == ("comment", "")
    assert toks[1][:2] == ("chars", "x-->")

    toks2, _, _ = tokenize("q<!-->x-->z")
    assert [t[:2] for t in toks2[:3]] == [
        ("chars", "q"),
        ("comment", ""),
        ("chars", "x-->z"),
    ]


# ---------------------------------------------------------------------------
# automaton pins: the whole-tag fast path must be indistinguishable from the
# per-char automaton, which is forced with constructs the fast-path regex
# subset excludes (an uppercase attribute name folds to the same token but
# makes _FAST_TAG fail), and every other DATA construct (comments,
# doctypes, CDATA, bogus comments) goes through the automaton itself.

import random

from hypothesis import given, settings, strategies as st

from html_parser_spark.functions.tokenizer import _decode_attr_value


def _slow_attr_value(v: str) -> str:
    """Ground truth: run the real automaton with an UPPERCASE attr name so
    the whole-tag fast path can't fire; the name folds to 'q' and the
    value is parsed by the automaton's ATTR_VALUE_DQ arm, whose '&' calls
    _char_ref on the input itself rather than on a '"'-terminated copy."""
    toks, _, _ = tokenize('<z Q="' + v + '">')
    assert toks[0][0] == "start" and toks[0][1] == "z"
    return toks[0][2][0][1]


_VALUE_ATOMS = [
    "&amp;", "&amp", "&ampx", "&amp=", "&amp1", "&lt;", "&lt", "&gt",
    "&notit;", "&notin;", "&no", "&" + "z" * 35 + ";", "&" + "a" * 33 + "b",
    "&#65;", "&#x41;", "&#X41", "&#", "&#x", "&#xZ", "&#0;", "&#13;",
    "&#128;", "&#x110000;", "&#99999999999999;", "&;", "&1;", "&é;",
    "&aé;", "&zzé;", "&CounterClockwiseContourIntegral;", "&", "&&",
    "/x?a=1", "&b=2", " ", "c", "=", "é",
]


@settings(max_examples=400, deadline=None)
@given(
    st.lists(st.sampled_from(_VALUE_ATOMS), min_size=0, max_size=8).map("".join)
)
def test_attr_value_charref_fast_matches_slow(v):
    assert _decode_attr_value(v) == _slow_attr_value(v)


def test_attr_value_charref_quirks_pinned():
    # lone '&' before a non-alnum is DROPPED (CHAR_REF reconsumes without
    # flushing temp_buf)
    assert _decode_attr_value("a& b") == "a b"
    assert _decode_attr_value("a&") == "a"
    # historical rule: matched name + '='/alnum flushes raw
    assert _decode_attr_value("x&amp=1") == "x&amp=1"
    assert _decode_attr_value("x&amp1") == "x&amp1"
    assert _decode_attr_value("x&amp-") == "x&-"
    # named refs scan ALPHA only: digits break, so &frac12; never matches
    assert _decode_attr_value("&frac12;") == "&frac12;"
    # MAX_POSSIBLE cap: 33 chars kept raw AND the 33rd reprocessed
    v = "&" + "a" * 40 + ";"
    assert _decode_attr_value(v) == _slow_attr_value(v)
    # numeric: u32 wrap, 0 → U+FFFD, C1 remap, '&#x' flushed raw
    assert _decode_attr_value("&#0;") == "�"
    assert _decode_attr_value("&#128;") == "€"
    assert _decode_attr_value("&#xZ") == "&#xZ"


def _slow_data(s: str) -> list:
    """Pin exact expected token streams for DATA-state constructs.
    The authoritative ground truth is the reference-binary differential
    (tools/golden_gen), which covers every construct asserted below."""
    toks, _, _ = tokenize(s)
    return as_golden(toks)


_DOCTYPE_ID_PINS = [
    # keyword then quote, with and without whitespace; '"' and "'"
    ('<!DOCTYPE html PUBLIC "p">', [["doctype", "html", "p", None, False], ["eof"]]),
    ("<!DOCTYPE html public 'p'>", [["doctype", "html", "p", None, False], ["eof"]]),
    ('<!DOCTYPE html PUBLIC"p">', [["doctype", "html", "p", None, False], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p" "s">', [["doctype", "html", "p", "s", False], ["eof"]]),
    ("<!DOCTYPE html PUBLIC 'p''s'>", [["doctype", "html", "p", "s", False], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p" >', [["doctype", "html", "p", None, False], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p">x', [["doctype", "html", "p", None, False], ["chars", "x"], ["eof"]]),
    ('<!DOCTYPE html SYSTEM "s">', [["doctype", "html", None, "s", False], ["eof"]]),
    ("<!DOCTYPE html sYsTeM 's'>", [["doctype", "html", None, "s", False], ["eof"]]),
    ("<!DOCTYPE html SYSTEM's'>", [["doctype", "html", None, "s", False], ["eof"]]),
    # '>' before an identifier forces quirks
    ("<!DOCTYPE html PUBLIC>", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html PUBLIC >", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html SYSTEM>", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html SYSTEM >", [["doctype", "html", None, None, True], ["eof"]]),
    # '>' inside an identifier ends the doctype with quirks; NUL is replaced
    ('<!DOCTYPE html PUBLIC "a>b">', [["doctype", "html", "a", None, True], ["chars", 'b">'], ["eof"]]),
    ("<!DOCTYPE html PUBLIC 'p' 'a>b'>", [["doctype", "html", "p", "a", True], ["chars", "b'>"], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "a\x00">', [["doctype", "html", "a\ufffd", None, False], ["eof"]]),
    ('<!DOCTYPE html SYSTEM "a\x00">', [["doctype", "html", None, "a\ufffd", False], ["eof"]]),
    # a bogus tail: quirks everywhere but after the system identifier
    ("<!DOCTYPE html PUBLICx>", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html PUBLIC x>", [["doctype", "html", None, None, True], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p"x>', [["doctype", "html", "p", None, True], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p" x>', [["doctype", "html", "p", None, True], ["eof"]]),
    ("<!DOCTYPE html SYSTEMx>", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html SYSTEM x>", [["doctype", "html", None, None, True], ["eof"]]),
    ('<!DOCTYPE html SYSTEM "s" x>', [["doctype", "html", None, "s", False], ["eof"]]),
    # EOF in each state
    ("<!DOCTYPE html PUBLIC", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html PUBLIC ", [["doctype", "html", None, None, True], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p', [["doctype", "html", "p", None, True], ["eof"]]),
    ("<!DOCTYPE html PUBLIC 'p", [["doctype", "html", "p", None, True], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p"', [["doctype", "html", "p", None, True], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p" ', [["doctype", "html", "p", None, True], ["eof"]]),
    ('<!DOCTYPE html PUBLIC "p" "s', [["doctype", "html", "p", "s", True], ["eof"]]),
    ("<!DOCTYPE html PUBLIC 'p' 's", [["doctype", "html", "p", "s", True], ["eof"]]),
    ("<!DOCTYPE html SYSTEM", [["doctype", "html", None, None, True], ["eof"]]),
    ("<!DOCTYPE html SYSTEM ", [["doctype", "html", None, None, True], ["eof"]]),
    ('<!DOCTYPE html SYSTEM "s', [["doctype", "html", None, "s", True], ["eof"]]),
    ("<!DOCTYPE html SYSTEM 's", [["doctype", "html", None, "s", True], ["eof"]]),
    ('<!DOCTYPE html SYSTEM "s"', [["doctype", "html", None, "s", False], ["eof"]]),
]


def test_data_fast_path_constructs_pinned():
    # uppercase tag names fold (TAG_NAME +0x20)
    assert _slow_data("</P>") == [["eof"]]  # dropped by the stack filter
    toks, _, err = tokenize("<DIV CLASS=x>t</DIV>")
    assert as_golden(toks)[0][:2] == ["start", "div"]
    # doctype: uppercase-D dispatch, name folded
    assert _slow_data("<!DOCTYPE htML>")[0] == ["doctype", "html", None, None, False]
    # force-quirks forms
    assert _slow_data("<!DOCTYPE >")[0] == ["doctype", "", None, None, True]
    assert _slow_data("<!DOCTYPE>")[0] == ["doctype", "", None, None, True]
    # lowercase 'd' never dispatches the keyword scan → bogus comment
    assert _slow_data("<!doctype html>")[0] == ["comment", "doctype html"]
    # bogus comment and PI forms
    assert _slow_data("<!foo>")[0] == ["comment", "foo"]
    assert _slow_data("<!>")[0] == ["comment", ""]
    assert _slow_data("<?xml?>")[0] == ["comment", "?xml?"]
    # CDATA: body raw, terminator emits nothing
    assert _slow_data("<![CDATA[hi]]>")[0] == ["chars", "hi"]
    assert _slow_data("<![CDATA[]]>") == [["eof"]]
    # '<' + ordinary char stays in the character run
    assert _slow_data("a < b")[0] == ["chars", "a < b"]
    # doctype identifiers: every arm of the before-identifier handler (six
    # states) and the quoted-identifier handler (four states), EOF included
    for src, want in _DOCTYPE_ID_PINS:
        assert _slow_data(src) == want, src
    # data char refs: entity, prefix fallback, ambiguous ampersand
    assert _slow_data("&notit;")[0] == ["chars", "¬it;"]
    assert _slow_data("a &amp; b")[0] == ["chars", "a & b"]
    assert _slow_data("x & y")[0] == ["chars", "x  y"]  # lone '&' dropped
    assert _slow_data("&#x2603;")[0] == ["chars", "☃"]
    # an '&' that TAG_OPEN's anything-else arm hands back to DATA reaches
    # the automaton's DATA arm, not the bulk path
    assert tokenize("<&amp;")[0][0] == ("chars", "<&", 0, 6)
    assert tokenize("<&#65;x")[0][0] == ("chars", "<Ax", 0, 7)
    assert tokenize("<&")[0][0] == ("chars", "<", 0, 1)
    # an uppercase attribute name keeps the tag off the whole-tag fast
    # path, so the value's '&' goes through the automaton's ATTR_VALUE_UQ arm
    assert tokenize("<A B=&amp;c>")[0][0] == ("start", "a", [["b", "&c"]], False)


def test_data_char_ref_span_endpoints():
    """Named refs include the breaking char in the span end (cur_idx+1);
    numeric refs exclude a reconsumed breaking char (cur_idx)."""
    toks, _, _ = tokenize("&gt=")
    # "&gt" matches via prefix fallback? no: full-buffer "&gt" IS in the
    # table; '=' breaks the scan and the span end includes it
    assert toks[0][:2] == ("chars", ">=")
    toks, _, _ = tokenize("&#65=")
    assert toks[0][:2] == ("chars", "A=")


def test_char_ref_fast_shape_boundaries():
    """The f297caf fast shapes: `[A-Za-z]{1,32};` must agree with the
    generic scan at the MAX_POSSIBLE(=33) loop-cap boundary, and the
    bulk int() numeric conversion must reproduce the per-char u32 wrap.
    Ground truth for all of these is the reference-binary differential
    (BENCH.md tallies); these pins document the boundaries in-suite."""
    # 32-alpha run + ';' → fast shape; unknown name falls back by prefix
    # ("&z" matches nothing ≥ MIN_POSSIBLE → raw, span kept)
    assert _slow_data("&" + "z" * 32 + ";")[0] == ["chars", "&" + "z" * 32 + ";"]
    # 33-alpha run + ';' → loop cap: the 33rd char is kept in the buffer
    # AND reprocessed (the reference's own duplication quirk — probe-
    # verified this session), so the raw emission carries 34 z's; the
    # fast regex must NOT absorb this shape (it would lose the dup)
    assert _slow_data("&" + "z" * 33 + ";")[0] == ["chars", "&" + "z" * 34 + ";"]
    # a real entity through the fast shape
    assert _slow_data("&CounterClockwiseContourIntegral;x")[0] == ["chars", "∳x"]
    # numeric u32 wrap: 2^32 + 65 wraps to 65 ('A'); huge decimal runs
    # wrap identically under int(run) & 0xFFFFFFFF
    assert _slow_data("&#4294967361;")[0] == ["chars", "A"]
    assert _slow_data("&#x100000041;")[0] == ["chars", "A"]
    assert _slow_data("&#18446744073709551617;")[0][1] == _slow_data("&#1;")[0][1]
    # unterminated numeric: breaking char reprocessed, not consumed
    assert _slow_data("&#65 x")[0] == ["chars", "A x"]
    assert _slow_data("&#x41 x")[0] == ["chars", "A x"]
    # '&#x' at EOF swallowed (HEX_CHAR_REF_START EOF quirk)
    assert _slow_data("a&#x") == [["chars", "a"], ["eof"]]
