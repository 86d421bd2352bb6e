"""Property-based invariants (hypothesis): the engine must terminate on ALL
inputs (unlike the reference), keep tokens well-formed, and keep spans within
bounds.  Random HTML-ish strings INCLUDING the reference's hang suffixes."""

from hypothesis import given, settings, strategies as st

from html_parser_spark.functions.extract import extract
from html_parser_spark.functions.tokenizer import tokenize

_atoms = st.sampled_from(
    list("<>&;#!-/='\"[]?abpxZ \t\n\x000123é💡")
    + ["amp", "lt", "DOCTYPE", "doctype", "CDATA", "PUBLIC", "<!--", "]]>"]
)
markupish = st.lists(_atoms, min_size=0, max_size=40).map("".join)


@given(markupish)
@settings(max_examples=400, deadline=None)
def test_always_terminates_eof_last(s):
    toks, status, err = tokenize(s)
    assert toks[-1] == ("eof",)
    assert toks.count(("eof",)) == 1
    assert status in ("ok", "hang_in_reference", "panic_in_reference")
    assert err >= 0


@given(markupish)
@settings(max_examples=400, deadline=None)
def test_kept_end_tags_nest(s):
    """The stack filter guarantees kept non-self-closing tags nest."""
    toks, _, _ = tokenize(s)
    stack = []
    for t in toks:
        if t[0] == "start" and not t[3]:
            stack.append(t[1])
        elif t[0] == "end" and not t[3]:
            assert stack and stack[-1] == t[1], (s, t)
            stack.pop()


@given(markupish)
@settings(max_examples=300, deadline=None)
def test_spans_sane(s):
    r = extract(s)
    n = len(s)
    prev_end = -1
    for start, end in r["spans"]:
        assert 0 <= start <= end <= n
        assert start >= prev_end  # spans are ordered and non-overlapping
        prev_end = start  # runs may touch; starts must be monotonic
    assert isinstance(r["main_text"], str)
