"""Extraction-policy tests: golden main_text equality (policy applied to
reference token streams == policy applied to our streams), plus unit cases
and structural invariants."""

from html_parser_spark.functions.extract import extract, extract_from_tokens
from html_parser_spark.functions.tokenizer import tokenize


def test_golden_main_text(golden_sf0001):
    """main_text computed from OUR tokens must equal main_text computed from
    the reference's token stream (self-consistent goldens, FIXTURES.md §2)."""
    from html_parser_spark.fixtures import gen_rows

    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in gen_rows(0.001)}
    for g in golden_sf0001:
        text = texts[(g["conv_id"], g["turn_idx"])]
        res = extract(text)
        assert res["main_text"] == g["main_text"], (g["conv_id"], g["turn_idx"])


def test_drop_containers():
    r = extract(
        "<head><title>T</title></head><script>var x;</script>"
        "<p>keep me</p><style>a{}</style>"
    )
    assert r["main_text"] == "keep me"


def test_boiler_class_dropped():
    r = extract('<div class="sidebar"><p>junk</p></div><p>content here</p>')
    assert r["main_text"] == "content here"


def test_link_density_dropped():
    r = extract(
        "<div><a href='/'>one</a> <a href='/'>two</a> <a href='/'>three</a></div>"
        "<p>real paragraph with enough text</p>"
    )
    assert r["main_text"] == "real paragraph with enough text"


def test_hang_status_propagates():
    r = extract("body text <!")
    assert r["parse_status"] == "hang_in_reference"
    assert r["main_text"] == "body text"


def test_spans_cover_main_text_sources():
    text = "<p>alpha</p><nav class='nav'><a href='/'>x</a></nav><p>beta</p>"
    r = extract(text)
    assert r["main_text"] == "alpha\nbeta"
    # spans point at the raw source of kept text
    recovered = [text[s:e] for s, e in r["spans"]]
    assert recovered == ["alpha", "beta"]


def test_entity_spans_point_at_source():
    text = "<p>a &amp; b</p>"
    r = extract(text)
    assert r["main_text"] == "a & b"
    (s, e), = r["spans"]
    assert text[s:e] == "a &amp; b"


def test_extract_from_reference_shaped_tokens():
    # span-free golden shape must be accepted
    toks = [["start", "p", [], False], ["chars", "hi"], ["end", "p", [], False], ["eof"]]
    r = extract_from_tokens(toks)
    assert r["main_text"] == "hi"
    assert r["spans"] == []


def test_err_count_propagates():
    r = extract("<body><br></body>tail")
    assert r["err_count"] == 1
