"""Link harvesting: crafted token-stream semantics + Spark parity.

Corpus-level value truth lives in the entry-contract mirror
(`extract_links` vs committed engine goldens); these tests pin the link
policy on inputs where the expected output is known by hand.
"""

import pytest

from html_parser_spark.functions.links import extract_links


def _pairs(text):
    return [(r["href"], r["anchor_text"]) for r in extract_links(text)]


def test_basic_link_and_order():
    assert _pairs('<a href="/x">one</a> mid <a href="/y">two</a>') == [
        ("/x", "one"),
        ("/y", "two"),
    ]
    idxs = [r["link_idx"] for r in extract_links('<a href=a>1</a><a href=b>2</a>')]
    assert idxs == [0, 1]


def test_entity_decoded_href_and_anchor():
    # &amp; in query strings resolves through the tokenizer's _char_ref
    # scan; anchor text entities decode too
    assert _pairs('<a href="/q?a=1&amp;b=2">x &lt; y</a>') == [
        ("/q?a=1&b=2", "x < y")
    ]


def test_new_anchor_implies_close():
    # WHATWG in-body <a> rule, tokenizer-level: the second <a> closes the
    # first; text after it belongs to the second link
    assert _pairs('<a href=1>first <a href=2>second</a>') == [
        ("1", "first "),
        ("2", "second"),
    ]


def test_anchor_without_href():
    # no link opened, but an open link still implies-closed
    assert _pairs("<a>plain</a>") == []
    assert _pairs("<a href=1>one<a>two</a>") == [("1", "one")]


def test_self_closing_and_eof():
    assert _pairs('<a href="/s"/>tail') == [("/s", "")]
    # EOF closes an open link with accumulated text
    assert _pairs('<a href=e>unclosed at eof') == [("e", "unclosed at eof")]


def test_nested_markup_inside_anchor():
    # inline tags inside the anchor don't break text accumulation
    assert _pairs('<a href=n>bold <b>mid</b> end</a>') == [("n", "bold mid end")]


def test_first_href_wins():
    [(href, _)] = _pairs('<a href=first href=second>t</a>')
    assert href == "first"


def test_spans_cover_anchor_text_runs():
    text = 'pre <a href="/x">anchor text</a> post'
    [r] = extract_links(text)
    assert text[r["src_start"]:r["src_end"]] == "anchor text"
    # empty anchors carry the -1 sentinel
    [e] = extract_links('<a href=y></a>')
    assert (e["src_start"], e["src_end"]) == (-1, -1)


def test_spark_matches_pure_python(spark, monkeypatch):
    rows = [
        ("c0", 0, 'x <a href="/a?p=1&amp;q=2">link &amp; co</a> y <a href=b>z</a>'),
        ("c0", 1, "no links here"),
        ("c1", 0, '<a href=only>open till eof'),
        ("c1", 1, None),
    ]
    from html_parser_spark.operators import pipeline
    from html_parser_spark.operators.linkops import run_link_extraction

    monkeypatch.setattr(pipeline, "exchange_partitions", lambda turns: 4)
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = sorted(map(tuple, run_link_extraction(df).collect()))
    want = sorted(
        (cid, tid, r["link_idx"], r["href"], r["anchor_text"],
         r["src_start"], r["src_end"])
        for cid, tid, text in rows
        if text is not None
        for r in extract_links(text)
    )
    assert got == want


def test_links_robustness_fuzz():
    """Adversarial garbage in → no crash, invariants out (same pattern
    as the tree/DOM/PDF robustness fuzz): hrefs non-null, link_idx
    contiguous from 0, spans either the (-1, -1) empty sentinel or a
    valid in-bounds range."""
    import random

    atoms = [
        "<a", "<a>", "</a>", "<a href=", "<a href='", '<a href="',
        "href=x", "/>", ">", "<", "&amp;", "&#x41;", "&", "a", " ",
        "<b>", "</b>", "<!--", "-->", "<a href=a href=b>", "\x00",
        "<A HREF=U>", "</A>", "é", '"', "'", "=", "<a/>", "<a >",
    ]
    rng = random.Random(20260817)
    for _ in range(400):
        text = "".join(rng.choice(atoms) for _ in range(rng.randint(0, 25)))
        links = extract_links(text)
        for i, r in enumerate(links):
            assert r["link_idx"] == i
            assert r["href"] is not None
            s, e = r["src_start"], r["src_end"]
            if (s, e) != (-1, -1):
                assert 0 <= s <= e <= len(text), (text, r)


@pytest.mark.parametrize(
    "outputs",
    [("main",), ("dom",), ("main", "links"), ("main", "dom", "links")],
    ids="+".join,
)
def test_extract_stage_matches_single_process(spark, check_stage, outputs):
    """One tokenize per turn feeds every requested policy: each output
    set reproduces the single-process extract / dom_extract /
    extract_links values for every turn, under the stage's column
    contract (dom_ prefix only next to main; links as an array)."""
    from html_parser_spark.fixtures import ensure_transcripts
    from html_parser_spark.operators.pipeline import extract_stage

    df = spark.read.parquet(ensure_transcripts(0.001))
    texts = {
        (r.conv_id, r.turn_idx): r.text
        for r in df.select("conv_id", "turn_idx", "text").collect()
    }
    check_stage(extract_stage(df, outputs, num_partitions=8), texts, outputs)
