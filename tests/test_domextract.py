"""DOM-heuristic extraction: block segmentation + three-signal scoring."""

from pyspark.sql import functions as F

from html_parser_spark.functions.domextract import _collect_blocks, dom_extract
from html_parser_spark.functions.treebuilder import parse_html

PAGE = (
    "<html><head><title>T</title></head><body>"
    '<nav><a href="/">Home</a> <a href="/x">X</a></nav>'
    '<div class="sidebar">Subscribe to our newsletter today</div>'
    "<article><h1>A Heading</h1>"
    "<p>This is the principal article text, long enough to look like "
    "prose and carrying the actual information payload of the page.</p>"
    '<p>See <a href="/ref">the reference</a> for details about this '
    "particular subject matter, explained at considerable length.</p>"
    "</article>"
    '<ul class="menu"><li><a href="/a">a</a></li><li><a href="/b">b</a>'
    "</li></ul>"
    "<footer>Copyright 2026 Example Corp</footer>"
    "<script>var x = 1;</script>"
    "</body></html>"
)


def test_boiler_and_scripts_dropped_prose_kept():
    r = dom_extract(PAGE)
    assert r["parse_status"] == "ok"
    assert "principal article text" in r["main_text"]
    assert "considerable length" in r["main_text"]
    assert "A Heading" in r["main_text"]
    assert "Home" not in r["main_text"]  # nav (drop container)
    assert "newsletter" not in r["main_text"]  # class="sidebar" prior
    assert "Copyright" not in r["main_text"]  # footer
    assert "var x" not in r["main_text"]  # script
    assert r["n_kept_blocks"] < r["n_blocks"]


def test_link_density_drops_link_farms():
    html = (
        "<p>Genuine paragraph text that should definitely survive the "
        "link density filter applied here.</p>"
        '<p><a href="1">one</a> <a href="2">two</a> <a href="3">three'
        "</a> <a href='4'>four</a></p>"
    )
    r = dom_extract(html)
    assert "Genuine paragraph" in r["main_text"]
    assert "one" not in r["main_text"]


def test_text_density_drops_tag_soup():
    html = (
        "<p>Long enough prose content sails through the chars-per-tag "
        "density gate without any trouble at all.</p>"
        "<p><span>a</span><span>b</span><span>c</span><span>d</span>"
        "<span>e</span></p>"
    )
    r = dom_extract(html)
    assert "prose content" in r["main_text"]
    assert "abcde" not in r["main_text"].replace(" ", "")


def test_block_scores_shape():
    doc, _, _ = parse_html("<p>Some prose here.</p><div class='nav'>x</div>")
    blocks = _collect_blocks(doc)
    assert len(blocks) == 2
    prose, nav = blocks
    assert prose.text() == "Some prose here."
    assert prose.tags == 0
    assert nav.text() == "x"
    assert not (prose.boiler or prose.drop) and nav.boiler


def test_whitespace_normalized():
    r = dom_extract("<p>a\n\n   b\tc    d of sufficient length to pass "
                    "the density threshold filter</p>")
    assert r["main_text"].startswith("a b c d")


def test_spark_udf_matches_pure_python(spark, monkeypatch):
    from html_parser_spark.fixtures import ensure_transcripts
    from html_parser_spark.operators import pipeline
    from html_parser_spark.operators.pipeline import run_dom_extraction

    monkeypatch.setattr(pipeline, "exchange_partitions", lambda turns: 4)
    t = spark.read.parquet(ensure_transcripts(0.001)).limit(200)
    got = {
        (r["conv_id"], r["turn_idx"]): r["main_text"]
        for r in run_dom_extraction(t).collect()
    }
    for row in t.select("conv_id", "turn_idx", "text").collect():
        exp = dom_extract(row["text"])["main_text"]
        assert got[(row["conv_id"], row["turn_idx"])] == exp


def test_link_block_nested_in_anchor_dropped():
    """<a><div>CTA</div></a> — block elements nested under an anchor are
    link content (reviewer-found: the old run-diff accounting scored
    them link_density 0 and kept CTAs as prose)."""
    r = dom_extract(
        "<a href=x><div>Click here to subscribe now please</div></a>"
        "<p>Real prose that is long enough to clear the density bar.</p>"
    )
    assert "subscribe" not in r["main_text"]
    assert "Real prose" in r["main_text"]
