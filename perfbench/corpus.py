"""Seeded workload inputs and their single-process oracle.

Two corpora, both made in one process from ``--seed``:

- ``standard``: the engine's fixture mix, every turn built by
  ``fixtures.make_turn_text``.  Lognormal turn lengths (median ~900
  chars, 64 KB cap) and 1% hot conversations with 100x the turns.
- ``links``: short, link-dense turns whose hrefs follow a Zipf law over
  many distinct targets.

The corpus shape is the same for every seed: conversation sizes and hot
conversations are fixed, and turn lengths are drawn at stratified
quantiles.  The seed changes the text of each turn and which turn gets
which length, so runs on different seeds measure the same workload.

The oracle runs the public single-process functions (``extract``,
``dom_extract``, ``extract_links``) over the same rows and keeps, per
turn, a 48-bit md5 digest of each output row.  The Spark side computes
the same digest with ``md5`` (see :func:`row_digest_col`), so a pass is
checked by its row count and the order-independent sum of digests.
Inputs and oracles are cached per seed under the work directory.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import math
import os
import random
import re
import statistics
from collections import Counter

SEP = "\x1f"
_ND = statistics.NormalDist()

STANDARD_TURNS = 2300
LINK_TURNS = 1000
LINK_TARGETS = 50_000
ZIPF_S = 1.0

CORPUS_OF = {"extract": "standard", "dom": "standard", "linkgraph": "links"}


class _StratifiedRandom(random.Random):
    """``random.Random`` whose ``gauss`` returns stratified normal draws.

    ``make_turn_text`` draws its target length with one ``gauss`` call;
    feeding it shuffled quantiles ``(i + u) / n`` keeps the length
    distribution of ``n`` turns identical across seeds."""

    def __init__(self, seed: int, n: int):
        super().__init__(seed)
        z = [_ND.inv_cdf((i + self.random()) / n) for i in range(n)]
        self.shuffle(z)
        self._z = z

    def gauss(self, mu=0.0, sigma=1.0):
        return mu + sigma * self._z.pop()


def _conv_size(q: float) -> int:
    return max(1, min(64, int(math.exp(2.0 + _ND.inv_cdf(q)))))


def conversation_sizes(n_target: int) -> list:
    """(turn count, hot) per conversation, totalling about ``n_target``.

    Sizes follow ``exp(N(2, 1))`` capped at 64, as in the fixture
    generator, taken at evenly spaced quantiles; 1% of conversations are
    hot, with 100x the turns of the size quantile they stand for.  The
    shape does not depend on the seed: a seed changes the text of the
    turns, not how they group into conversations, so the partition
    layout the salted exchange sees is the same for every seed."""
    n_conv = 1
    while True:
        n_hot = round(n_conv / 100)
        hot = [100 * _conv_size((j + 0.5) / n_hot) for j in range(n_hot)]
        base = [_conv_size((i + 0.5) / n_conv) for i in range(n_conv - n_hot)]
        if sum(hot) + sum(base) >= n_target:
            break
        n_conv += 1
    sizes = [(s, False) for s in base] + [(s, True) for s in hot]
    random.Random(0).shuffle(sizes)
    return sizes


_WORDS = (
    "page index guide notes archive report table figure topic review "
    "source paper method result data model graph rank link anchor home"
).split()


def _zipf_sampler(rng: random.Random, n: int, s: float):
    cum, total = [], 0.0
    for k in range(1, n + 1):
        total += 1.0 / k**s
        cum.append(total)
    # a seeded permutation decides which target ids are the popular ones
    ids = list(range(n))
    rng.shuffle(ids)
    return lambda: ids[bisect.bisect_left(cum, rng.random() * total)]


def _href(t: int) -> str:
    host = f"site{t % 211}.example"
    if t % 5 == 0:
        return f"https://{host}/p/{t}?a=1&amp;b={t % 7}"
    return f"https://{host}/p/{t}"


def _link_turn(rng: random.Random, target) -> str:
    parts = []
    for _ in range(rng.randint(3, 12)):
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 6)))
        anchor = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))
        href = _href(target())
        style = rng.random()
        if style < 0.6:
            link = f'<a href="{href}">{anchor}</a>'
        elif style < 0.75:
            link = f"<a class='nav' href='{href}'>{anchor}</a>"
        elif style < 0.85:
            link = f"<a href={href.replace('&amp;', '&')}>{anchor}</a>"
        elif style < 0.95:
            link = f'<a href="{href}"/>'
        else:
            link = f'<a name="n{rng.randint(0, 9)}">{anchor}</a>'
        parts.append(f"{words} {link}")
    tag = rng.choice(("p", "li", "div"))
    return f"<{tag}>{' '.join(parts)}</{tag}>"


def generate(kind: str, seed: int, n_target: int) -> dict:
    """Columns ``conv_id``, ``turn_idx``, ``text`` and per-row ``hot``."""
    from html_parser_spark.fixtures import make_turn_text

    rng = random.Random(seed)
    sizes = conversation_sizes(n_target)
    n = sum(s for s, _ in sizes)
    if kind == "standard":
        text_rng = _StratifiedRandom(seed, n)
        make = lambda: make_turn_text(text_rng)  # noqa: E731
    else:
        target = _zipf_sampler(rng, LINK_TARGETS, ZIPF_S)
        make = lambda: _link_turn(rng, target)  # noqa: E731
    cols = {"conv_id": [], "turn_idx": [], "text": [], "hot": []}
    for c, (size, hot) in enumerate(sizes):
        for t in range(size):
            cols["conv_id"].append(f"conv{c:06d}")
            cols["turn_idx"].append(t)
            cols["text"].append(make())
            cols["hot"].append(hot)
    return cols


_TAG = re.compile(r"<[^<>]*>")
_HREF = re.compile(r"href=[\"']?([^\"' >]+)")


def properties(cols: dict) -> dict:
    """Input properties the engine's behaviour depends on."""
    lens = sorted(len(t) for t in cols["text"])
    tags = Counter(m for t in cols["text"] for m in _TAG.findall(t))
    hrefs = {m for t in cols["text"] for m in _HREF.findall(t)}
    n_tags = sum(tags.values())
    return {
        "turns": len(lens),
        "conversations": len(set(cols["conv_id"])),
        "bytes": sum(len(t.encode()) for t in cols["text"]),
        "len_p50": lens[len(lens) // 2],
        "len_p99": lens[min(len(lens) - 1, int(len(lens) * 0.99))],
        "hot_share": sum(cols["hot"]) / len(lens),
        "distinct_hrefs": len(hrefs),
        "distinct_tag_share": len(tags) / n_tags if n_tags else 0.0,
    }


# ------------------------------------------------------------ row digests


def digest(fields) -> int:
    s = SEP.join(fields)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def _spans_str(spans) -> str:
    return ";".join(f"{s[0]},{s[1]}" for s in spans)


def extract_fields(conv_id, turn_idx, r) -> list:
    return [
        conv_id, str(turn_idx), r["main_text"], _spans_str(r["spans"]),
        str(r["err_count"]), r["parse_status"], str(r["n_tokens"]),
        str(r["n_blocks"]), str(r["n_kept_blocks"]),
    ]


def dom_fields(conv_id, turn_idx, r) -> list:
    return [
        conv_id, str(turn_idx), r["main_text"], _spans_str(r["spans"]),
        str(r["err_count"]), r["parse_status"], str(r["n_blocks"]),
        str(r["n_kept_blocks"]),
    ]


def link_fields(conv_id, turn_idx, lk) -> list:
    return [
        conv_id, str(turn_idx), str(lk["link_idx"]), lk["href"],
        lk["anchor_text"], str(lk["src_start"]), str(lk["src_end"]),
    ]


# Spark column lists in the same order as the *_fields functions above
EXTRACT_COLS = [
    "conv_id", "turn_idx", "main_text", "spans", "err_count", "parse_status",
    "n_tokens", "n_blocks", "n_kept_blocks",
]
DOM_COLS = [
    "conv_id", "turn_idx", "main_text", "spans", "err_count", "parse_status",
    "n_blocks", "n_kept_blocks",
]
LINK_COLS = [
    "conv_id", "turn_idx", "link_idx", "href", "anchor_text", "src_start",
    "src_end",
]


def row_digest_col(cols: list):
    """Spark twin of :func:`digest` over the named output columns."""
    from pyspark.sql import functions as F

    parts = []
    for c in cols:
        if c == "spans":
            parts.append(F.array_join(F.transform(
                F.col(c),
                lambda s: F.concat_ws(
                    ",", s["start"].cast("string"), s["end"].cast("string")
                ),
            ), ";"))
        else:
            parts.append(F.col(c).cast("string"))
    hexd = F.substring(F.md5(F.concat_ws(SEP, *parts)), 1, 12)
    return F.conv(hexd, 16, 10).cast("long")


# ---------------------------------------------------------------- oracle


def _oracle(workload: str, cols: dict, work: str) -> dict:
    rows = zip(cols["conv_id"], cols["turn_idx"], cols["text"])
    per_turn: dict = {}
    status: Counter = Counter()
    tokens = 0
    if workload == "extract":
        from html_parser_spark.functions.extract import extract

        for c, t, text in rows:
            r = extract(text)
            per_turn[f"{c}#{t}"] = [digest(extract_fields(c, t, r))]
            status[r["parse_status"]] += 1
            tokens += r["n_tokens"]
    elif workload == "dom":
        from html_parser_spark.functions.domextract import dom_extract

        for c, t, text in rows:
            r = dom_extract(text)
            per_turn[f"{c}#{t}"] = [digest(dom_fields(c, t, r))]
            status[r["parse_status"]] += 1
    else:
        from html_parser_spark.functions.links import extract_links

        link_rows = {"conv_id": [], "turn_idx": [], "href": []}
        for c, t, text in rows:
            lks = extract_links(text)
            per_turn[f"{c}#{t}"] = sorted(digest(link_fields(c, t, lk)) for lk in lks)
            for lk in lks:
                link_rows["conv_id"].append(c)
                link_rows["turn_idx"].append(t)
                link_rows["href"].append(lk["href"])
    out = {
        "rows": sum(len(v) for v in per_turn.values()),
        "digest": sum(sum(v) for v in per_turn.values()),
        "tokens": tokens,
        "status": dict(status),
        "per_turn": per_turn,
    }
    if workload == "linkgraph":
        out["top100"] = _pagerank_top100(link_rows, work)
    return out


def _pagerank_top100(link_rows: dict, work: str) -> list:
    """DuckDB fixed-point PageRank (4 rounds) over the oracle link rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from html_parser_spark.operators.linkrank import link_pagerank_sql

    path = os.path.join(work, "oracle_links.parquet")
    pq.write_table(pa.Table.from_pydict(link_rows), path)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        rows = con.execute(link_pagerank_sql(path, iterations=4, top_k=100)).fetchall()
    finally:
        con.close()
    return [[node, int(rank)] for node, rank in rows]


def prepare(workload: str, seed: int, cache_root: str, n_target: int | None = None):
    """Inputs and oracle for ``workload`` at ``seed``, generated once and
    cached.  Returns (parquet path, input properties, oracle path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kind = CORPUS_OF[workload]
    n_target = n_target or (STANDARD_TURNS if kind == "standard" else LINK_TURNS)
    d = os.path.join(cache_root, f"{kind}-n{n_target}-seed{seed}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "turns.parquet")
    props_path = os.path.join(d, "properties.json")
    oracle_path = os.path.join(d, f"oracle-{workload}.json")
    cols = None
    if not (os.path.exists(path) and os.path.exists(props_path)):
        cols = generate(kind, seed, n_target)
        table = pa.Table.from_pydict(
            {k: cols[k] for k in ("conv_id", "turn_idx", "text")},
            schema=pa.schema(
                [("conv_id", pa.string()), ("turn_idx", pa.int32()),
                 ("text", pa.string())]
            ),
        )
        pq.write_table(table, path + ".tmp", row_group_size=1024)
        _write_json(props_path, properties(cols))
        os.replace(path + ".tmp", path)
    if not os.path.exists(oracle_path):
        if cols is None:
            cols = pq.read_table(path).to_pydict()
        _write_json(oracle_path, _oracle(workload, cols, d))
    with open(props_path) as f:
        props = json.load(f)
    return path, props, oracle_path


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def load_texts(path: str) -> dict:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pydict()
