"""Deterministic synthetic `transcripts` table (FIXTURES.md §1/§3).

Generates the BASELINE.json ``input_hint`` schema with a seeded stdlib RNG —
byte-for-byte reproducible, no external data:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

``text`` is HTML-ish markup drawn from a weighted fragment grammar whose
buckets each pin a behavior verified on the reference binary (probe ledger,
SURVEY.md §2): stack-poisoning void elements, no-semicolon entities, numeric
clamps, bogus comments, uppercase-D DOCTYPE dispatch, CDATA, NUL bytes,
Unicode tag names.  Turn-final hang suffixes (``<!``, trailing ``-`` of an
unterminated comment, ``<!DOCTYPE name␣``) are never emitted (FIXTURES.md §4)
— the reference loops forever on them; they live in the separate
``hang_cases`` fixture instead.

Conversation shape: 1% of conversations are "hot" with 100× turn count
(exercises conv_id skew → salting/AQE), and text length is LogNormal with
median ≈900 chars and a 64 KB P99 tail (long-text compute skew).

Scale: ``n_turns_target = int(sf * 1_000_000)`` — sf0.001 ≈ 1k turns,
sf0.01 ≈ 10k, sf0.1 ≈ 100k.
"""

from __future__ import annotations

import math
import os
import random
import re
from datetime import datetime, timedelta, timezone

SEED = 42
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "the quick brown fox jumps over lazy dog data spark engine turn "
    "conversation model context token stream parse extract content main "
    "result answer question tool output agent state machine cluster shuffle "
    "partition executor arrow batch vector column schema table row metric"
).split()

_ENTITY_POOL = [
    "&amp;", "&amp", "&AMP", "&AMP;", "&lt;", "&gt;", "&gt", "&Aacute;",
    "&Aacute", "&nbsp;", "&frac12;", "&sup1;", "&ampx", "&zzz;", "&quot;",
    "&copy;", "&copy", "&reg;", "&hellip;", "&mdash;",
]

_NUMERIC_POOL = [
    "&#65;", "&#x41;", "&#0;", "&#153;", "&#xD800;", "&#x110000;", "&#38;",
    "&#x26;", "&#8212;", "&#xFDD0;", "&#13;", "&#x80;",
]

_BOILER_CLASSES = ["nav", "menu", "footer", "sidebar", "share", "related"]

def _words(rng: random.Random, k: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(k))


def _frag_prose(rng):
    tag = rng.choice(["p", "p", "p", "b", "i", "h1", "h2", "h3"])
    if rng.random() < 0.25:
        inner = (
            f"<{tag}>{_words(rng, rng.randint(3, 12))}"
            f"<ul><li>{_words(rng, 3)}</li><li>{_words(rng, 4)}</li></ul></{tag}>"
        )
    else:
        inner = f"<{tag}>{_words(rng, rng.randint(4, 20))}</{tag}>"
    return inner


def _frag_link_nav(rng):
    cls = rng.choice(_BOILER_CLASSES)
    links = "".join(
        f'<a href="/x?a=1&amp;b={i}">{_words(rng, rng.randint(1, 2))}</a> '
        for i in range(rng.randint(2, 5))
    )
    wrapper = rng.choice(["nav", "div", "aside"])
    return f'<{wrapper} class="{cls}">{links}</{wrapper}>'


def _frag_entities(rng):
    bits = [rng.choice(_ENTITY_POOL) for _ in range(rng.randint(1, 4))]
    attr_ent = rng.choice(["x&ampy", "&amp=", "x&amp;y", "a&AMPb"])
    if rng.random() < 0.4:
        return f'<a title="{attr_ent}">{_words(rng, 2)} {" ".join(bits)}</a>'
    return f"{_words(rng, 2)} {' '.join(bits)} {_words(rng, 2)}"


def _frag_numeric(rng):
    bits = [rng.choice(_NUMERIC_POOL) for _ in range(rng.randint(1, 3))]
    return f"<p>{_words(rng, 2)} {''.join(bits)} {_words(rng, 1)}</p>"


def _frag_comment(rng):
    return rng.choice(
        [
            f"<!-- {_words(rng, 3)} -->",
            "<!---->",
            "<!-->",
            f"<!- {_words(rng, 1)}>",
            f"<? pi {_words(rng, 1)} ?>",
            f"<!-- nested <!-- {_words(rng, 2)} -->",
            f"<!--{_words(rng, 2)}--!>x",
        ]
    )


def _frag_void(rng):
    return rng.choice(
        [
            f"<body><br></body><p>{_words(rng, 4)}</p>",
            f"<img src='{rng.choice(_WORDS)}.png'/>",
            f"<p/>{_words(rng, 3)}</p>",
            f"<div><br><br>{_words(rng, 5)}</div>",
            f"<p>{_words(rng, 3)}<img src=x>{_words(rng, 2)}</p>",
        ]
    )


def _frag_endtags(rng):
    return rng.choice(
        [
            f"</div><p>{_words(rng, 4)}</p>",
            f"</p id=3>{_words(rng, 2)}",
            f"<p>{_words(rng, 3)}</P>",
            f"<div><p>{_words(rng, 3)}</p></section></div>",
        ]
    )


def _frag_doctype(rng):
    return rng.choice(
        [
            "<!DOCTYPE html>",
            "<!doctype html>",
            '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01//EN" '
            '"http://www.w3.org/TR/html4/strict.dtd">',
            "<!DOCTYPE html SYSTEM 'about:legacy-compat'>",
            "<!DOCTYPEX>",
            "<!DOCTYPE >",
        ]
    )


def _frag_script(rng):
    body = rng.choice(
        [
            "var a = 1 < 2 && b > 3;",
            "if (x & y) { f('</div>'); }",
            "p { color: red; } a:hover { x: 1 < 2 }",
        ]
    )
    tag = rng.choice(["script", "style"])
    return f"<{tag}>{body}</{tag}>"


def _frag_cdata(rng):
    return rng.choice(
        [
            f"<![CDATA[{_words(rng, 2)}]]>",
            "<![CDATA[a]b]]c]]>",
            f"<![CDATA[{_words(rng, 1)}]]>{_words(rng, 1)}",
        ]
    )


def _frag_weird(rng):
    return rng.choice(
        [
            f"a\x00b {_words(rng, 2)}",
            f"<éx>{_words(rng, 2)}</éx>",
            f"<DIV>{_words(rng, 3)}</DIV>",
            f"<p\x00q>{_words(rng, 2)}</p\x00q>".replace("\x00", "�")
            if rng.random() < 0.5
            else f"<SPAN>{_words(rng, 2)}</SPAN>",
        ]
    )


def _frag_markdownish(rng):
    return rng.choice(
        [
            f"{_words(rng, 4)} 1 < 2 {_words(rng, 2)}",
            f"{_words(rng, 3)} a & b {_words(rng, 3)}",
            f"x > y: {_words(rng, 4)}",
            f"json: {{'k': '{rng.choice(_WORDS)}', 'n': {rng.randint(0, 99)}}}",
        ]
    )


_FAMILIES = [
    (30, _frag_prose),
    (10, _frag_link_nav),
    (10, _frag_entities),
    (8, _frag_numeric),
    (8, _frag_comment),
    (8, _frag_void),
    (6, _frag_endtags),
    (6, _frag_doctype),
    (5, _frag_script),
    (4, _frag_cdata),
    (3, _frag_weird),
    (2, _frag_markdownish),
]
_FAMILY_FNS = [f for _, f in _FAMILIES]
_FAMILY_WEIGHTS = [w for w, _ in _FAMILIES]


def make_turn_text(rng: random.Random) -> str:
    # LogNormal length: median 900 → mu=ln(900); sigma tuned so P99 ≈ 64k
    # (P99 = median * exp(2.326*sigma) → sigma ≈ 1.83)
    target = int(math.exp(rng.gauss(math.log(900), 1.4)))
    target = max(16, min(target, 65536))
    parts: list[str] = []
    size = 0
    while size < target:
        frag = rng.choices(_FAMILY_FNS, weights=_FAMILY_WEIGHTS, k=1)[0](rng)
        parts.append(frag)
        size += len(frag) + 1
    text = " ".join(parts)
    # never end on a hang-hazard suffix (FIXTURES.md §4)
    while text.endswith(("<!", "-", " ")) or (
        text.endswith("-") and "<!--" in text[-64:]
    ):
        text = text.rstrip("- ")
        if text.endswith("<!"):
            text = text[:-2]
        if not text:
            text = "fallback turn text"
    return text


HANG_CASES = [
    ("hang_markup_decl", "some text then <!"),
    ("hang_comment_dash", "<!--never closed -"),
    ("hang_doctype_ws", "<!DOCTYPE html "),
]


def gen_rows(sf: float):
    """Yield transcript rows, deterministic for a given sf."""
    rng = random.Random(SEED)
    n_target = int(sf * 1_000_000)
    roles = ("user", "assistant", "tool")
    produced = 0
    conv_seq = 0
    while produced < n_target:
        conv_id = f"conv{conv_seq:06d}"
        hot = rng.random() < 0.01
        n_turns = int(math.exp(rng.gauss(2.0, 1.0)))
        n_turns = max(1, min(n_turns, 64))
        if hot:
            n_turns *= 100
        base_ts = EPOCH + timedelta(seconds=conv_seq * 60)
        for turn_idx in range(n_turns):
            role = roles[turn_idx % 3]
            tool = f"tool{rng.randint(0, 9)}" if role == "tool" else ""
            yield {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": role,
                "text": make_turn_text(rng),
                "tool": tool,
                "ts": base_ts + timedelta(seconds=turn_idx),
            }
            produced += 1
            if produced >= n_target:
                break
        conv_seq += 1


def write_parquet(sf: float, out_dir: str) -> str:
    """Materialize transcripts at ``sf`` as a single parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "transcripts.parquet")
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for row in gen_rows(sf):
        for k, v in row.items():
            cols[k].append(v)
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path, row_group_size=8192)
    return path


def sf_of(sf_dir: str) -> float:
    """Scale factor encoded in a testdata dir name (``…/sf0.01`` →
    0.01; driver convention, TESTDATA.md).  Falls back to 0.01 — the
    driver's gate scale — when the path carries no marker.  The ONE
    implementation: fixture-backed operators (multimodal, linkrank) and
    the entry module all route through here so a naming change cannot
    silently land a wrong-scale fixture in one of them."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else 0.01


def gate_sf_dir() -> str:
    """Testdata dir the DuckDB oracles read: ``SPARK_GRAFT_TEST_SF_DIR``
    when the test harness pins one, else the gate's sf0.01.  The
    one place an oracle learns the gate scale (``sf_of(gate_sf_dir())``
    for the fixture-backed ones)."""
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR") or "/root/testdata/sf0.01"


def ensure_transcripts(sf: float, cache_root: str | None = None) -> str:
    """Generate-once cache; returns the parquet path."""
    cache_root = cache_root or os.environ.get(
        "SPARK_GRAFT_DATA_DIR", "/root/repo/data"
    )
    out_dir = os.path.join(cache_root, f"transcripts_sf{sf}")
    path = os.path.join(out_dir, "transcripts.parquet")
    if not os.path.exists(path):
        write_parquet(sf, out_dir)
    return path


# --------------------------------------------------------- PNG blob fixture
#
# Deterministic multimodal fixture: REAL PNG images (every byte emitted by
# the pure-stdlib encoder below follows the public PNG spec — signature,
# IHDR/IDAT/IEND chunks, zlib-compressed scanlines, per-row filters 0-4),
# plus the generator's ground truth (dimensions + md5 of the raw pixel
# bytes BEFORE filtering) stored alongside.  The Spark decode operator
# must reproduce that truth from the blob alone, which value-oracles the
# whole decode path: chunk walk, inflate, and all five filter inverses.

import struct
import zlib


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(
    raw: bytes,
    width: int,
    height: int,
    channels: int,
    palette: bytes | None = None,
) -> bytes:
    """Minimal spec-conformant PNG encoder (8-bit; gray / gray+alpha /
    RGB / RGBA by ``channels`` 1/2/3/4, or palette color type 3 when
    ``palette`` is given — then ``raw`` is the index plane and
    ``channels`` must be 1).  Row filters cycle 0..4 so the decoder's
    unfilter paths are all exercised by the fixture."""
    assert channels in (1, 2, 3, 4) and len(raw) == width * height * channels
    if palette is not None:
        assert channels == 1 and len(palette) % 3 == 0
        color_type = 3
    else:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    out = bytearray()
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        prev = raw[(y - 1) * stride : y * stride] if y else bytes(stride)
        ftype = y % 5
        out.append(ftype)
        for x, v in enumerate(row):
            a = row[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ftype == 0:
                out.append(v)
            elif ftype == 1:
                out.append((v - a) & 0xFF)
            elif ftype == 2:
                out.append((v - b) & 0xFF)
            elif ftype == 3:
                out.append((v - (a + b) // 2) & 0xFF)
            else:
                out.append((v - _paeth(a, b, c)) & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    plte = _png_chunk(b"PLTE", palette) if palette is not None else b""
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + plte
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def write_png_parquet(sf: float, out_dir: str) -> str:
    """Materialize the PNG blob table at ``sf``: (doc_id, payload,
    exp_width, exp_height, exp_channels, exp_pixel_md5)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "png_blobs.parquet")
    rng = random.Random(SEED + 7)
    n = max(64, int(sf * 20_000))
    cols = {
        "doc_id": [], "payload": [], "exp_width": [], "exp_height": [],
        "exp_channels": [], "exp_pixel_md5": [],
    }
    for i in range(n):
        w, h = rng.randint(4, 48), rng.randint(4, 48)
        ch = 1 if rng.random() < 0.25 else 3
        raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
        cols["doc_id"].append(i)
        cols["payload"].append(encode_png(raw, w, h, ch))
        cols["exp_width"].append(w)
        cols["exp_height"].append(h)
        cols["exp_channels"].append(ch)
        cols["exp_pixel_md5"].append(hashlib.md5(raw).hexdigest())
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("payload", pa.binary()),
            ("exp_width", pa.int32()),
            ("exp_height", pa.int32()),
            ("exp_channels", pa.int32()),
            ("exp_pixel_md5", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pydict(cols, schema=schema), path, row_group_size=4096
    )
    return path


def ensure_png_blobs(sf: float, cache_root: str | None = None) -> str:
    """Generate-once cache; returns the parquet path."""
    cache_root = cache_root or os.environ.get(
        "SPARK_GRAFT_DATA_DIR", "/root/repo/data"
    )
    out_dir = os.path.join(cache_root, f"png_blobs_sf{sf}")
    path = os.path.join(out_dir, "png_blobs.parquet")
    if not os.path.exists(path):
        write_png_parquet(sf, out_dir)
    return path


def _jpeg_reconstruct(coefs: list, w: int, h: int, ch: int) -> bytes:
    """Independent numpy reconstruction of what a conformant baseline
    decoder must produce from the quantized coefficient blocks the
    encoder committed to the stream (round 5).

    The decode CONTRACT — dequant → IDCT → integer samples → color
    conversion, per the shared sample contract in mediacodecs
    ("component sample = clamp(round_half_even(IDCT+128))"; RGB from
    integer YCbCr with round-half-even) — is reimplemented here as
    numpy matrix algebra, a separate code path from the pure-Python
    loops in mediacodecs.decode_jpeg.  The generator ASSERTS
    decode_jpeg(payload) equals this, so a Huffman encode/decode bug
    (coefficients read back differently than committed), a decoder
    IDCT/dequant/color bug, or drift between the two implementations
    fails the seeded build deterministically.  Feeding the committed
    coefficients rather than re-deriving them from pixels is deliberate:
    the forward DCT's float rounding sits at exact-.5 boundaries (the
    DC term is int/64) and is NOT cross-implementation reproducible,
    while the inverse path's rounding inputs are bounded away from
    boundaries except on measure-zero float coincidences."""
    import numpy as np

    from .functions.mediacodecs import _QT, _ZZ  # tables are stream data,
    # not math — the coder carries them in DQT, so sharing them is the
    # same class of reuse as reading them back from the bytes

    A = np.array(
        [
            [
                (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    zz = list(_ZZ)
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    H8, W8 = mcuy * 8, mcux * 8
    planes = [np.empty((H8, W8)) for _ in range(ch)]
    it = iter(coefs)
    for my in range(mcuy):
        for mx in range(mcux):
            for c in range(ch):
                block_zz = next(it)
                qt = np.array(
                    list(_QT[0 if c == 0 else 1]), dtype=np.float64
                )
                dq = np.zeros(64)
                dq[zz] = np.array(block_zz, dtype=np.float64) * qt[zz]
                DQ = dq.reshape(8, 8)
                planes[c][
                    my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8
                ] = A.T @ DQ @ A
    rec = [
        np.clip(np.rint(p + 128.0), 0, 255)[:h, :w] for p in planes
    ]
    if ch == 1:
        return rec[0].astype(np.uint8).tobytes()
    Y, Cb, Cr = rec[0], rec[1] - 128.0, rec[2] - 128.0
    rgb = np.stack(
        [
            np.clip(np.rint(Y + 1.402 * Cr), 0, 255),
            np.clip(np.rint(Y - 0.344136 * Cb - 0.714136 * Cr), 0, 255),
            np.clip(np.rint(Y + 1.772 * Cb), 0, 255),
        ],
        axis=-1,
    )
    return rgb.astype(np.uint8).tobytes()


def write_media_parquet(sf: float, out_dir: str) -> str:
    """Materialize the mixed-format media blob table at ``sf``:
    (doc_id, payload, exp_format, exp_width, exp_height, exp_channels,
    exp_sample_rate, exp_n_frames, exp_pixel_md5).

    Formats: PNG (filter-cycling encoder above), GIF87a-profile frames
    via a real LZW coder, 24-bit BMP, 16-bit PCM WAV, and — since round
    5 — REAL baseline JPEG (SOF0, grayscale + YCbCr 4:4:4) whose
    ground-truth pixels come from the independent numpy reconstruction
    above and are asserted against the pure-Python decoder at build
    time.  Ground truth is stored next to each blob so the Spark decode
    can be value-oracled from the bytes alone (operators/multimodal.py).
    """
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .functions.mediacodecs import (
        decode_jpeg,
        encode_avi_fixture,
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_mp4_fixture,
        encode_wav,
        encode_webp_fixture,
    )

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "media_blobs.parquet")
    rng = random.Random(SEED + 11)
    n = max(80, int(sf * 20_000))
    cols: dict = {
        "doc_id": [], "payload": [], "exp_format": [], "exp_width": [],
        "exp_height": [], "exp_channels": [], "exp_sample_rate": [],
        "exp_n_frames": [], "exp_pixel_md5": [],
    }

    def add(i, fmt, payload, w, h, ch, sr, nf, pmd5):
        cols["doc_id"].append(i)
        cols["payload"].append(payload)
        cols["exp_format"].append(fmt)
        cols["exp_width"].append(w)
        cols["exp_height"].append(h)
        cols["exp_channels"].append(ch)
        cols["exp_sample_rate"].append(sr)
        cols["exp_n_frames"].append(nf)
        cols["exp_pixel_md5"].append(pmd5)

    md5 = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
    for i in range(n):
        fmt = ("png", "gif", "bmp", "wav", "jpeg", "mp4", "avi", "webp")[i % 8]
        if fmt == "png":
            w, h = rng.randint(4, 48), rng.randint(4, 48)
            kind = rng.choice(("gray", "rgb", "rgb", "graya", "rgba", "palette"))
            if kind == "palette":
                # indices filtered as bpp=1; truth = the PLTE-expanded
                # RGB the decoder must return (round 5, color type 3)
                n_pal = rng.randint(2, 256)
                pal = bytes(rng.randrange(256) for _ in range(n_pal * 3))
                idx = bytes(rng.randrange(n_pal) for _ in range(w * h))
                rgb = b"".join(pal[3 * j : 3 * j + 3] for j in idx)
                add(i, fmt, encode_png(idx, w, h, 1, palette=pal), w, h, 3,
                    None, 1, md5(rgb))
            else:
                ch = {"gray": 1, "graya": 2, "rgb": 3, "rgba": 4}[kind]
                raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
                add(i, fmt, encode_png(raw, w, h, ch), w, h, ch, None, 1,
                    md5(raw))
        elif fmt == "gif":
            w, h = rng.randint(4, 40), rng.randint(4, 40)
            nf = rng.randint(1, 3)
            # mix of noisy and run-heavy frames so both LZW regimes
            # (fresh-chain and deep-chain) appear in the corpus
            frames = [
                bytes(rng.randrange(256) for _ in range(w * h))
                if f % 2 == 0
                else bytes((x // 7) % 16 for x in range(w * h))
                for f in range(nf)
            ]
            add(i, fmt, encode_gif(frames, w, h), w, h, 1, None, nf,
                md5(b"".join(frames)))
        elif fmt == "bmp":
            w, h = rng.randint(4, 48), rng.randint(4, 48)
            raw = bytes(rng.randrange(256) for _ in range(w * h * 3))
            add(i, fmt, encode_bmp(raw, w, h), w, h, 3, None, 1, md5(raw))
        elif fmt == "wav":
            ch = rng.randint(1, 2)
            sr = rng.choice((8000, 16000, 22050, 44100))
            nf = rng.randint(50, 400)
            pcm = bytes(rng.randrange(256) for _ in range(nf * ch * 2))
            add(i, fmt, encode_wav(pcm, ch, sr), None, None, ch, sr, nf,
                md5(pcm))
        elif fmt == "mp4":
            # video containers (round 5): container METADATA is real —
            # dims/frame-count/duration re-derivable from the box walk;
            # frame decode stays the honest ffmpeg-less stub, so
            # exp_pixel_md5 is NULL by contract
            w, h = rng.choice(((320, 240), (640, 360), (1280, 720), (16, 9)))
            nf = rng.randint(5, 200)
            add(i, fmt, encode_mp4_fixture(w, h, nf, 1000, nf * 40), w, h,
                None, None, nf, None)
        elif fmt == "avi":
            w, h = rng.choice(((320, 240), (640, 480), (720, 576)))
            nf = rng.randint(5, 200)
            add(i, fmt, encode_avi_fixture(w, h, nf, rng.choice((33367, 40000))),
                w, h, None, None, nf, None)
        elif fmt == "webp":
            w, h = rng.randint(1, 4000), rng.randint(1, 4000)
            kind = rng.choice(("vp8", "vp8l", "vp8x"))
            add(i, fmt, encode_webp_fixture(w, h, kind), w, h,
                None, None, None, None)
        else:  # jpeg: REAL baseline stream since round 5 — dims kept
            # ≤64 so the pure-Python block coder stays fast; 1/4
            # grayscale to exercise the single-component scan.  Ground
            # truth = the independent numpy reconstruction of the
            # committed coefficients, asserted against the pure-Python
            # decoder HERE so any coder drift fails the seeded build.
            w, h = rng.randint(4, 64), rng.randint(4, 64)
            ch = 1 if rng.random() < 0.25 else 3
            if rng.random() < 0.5:
                raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
            else:  # smooth ramps: low-frequency blocks, long zero runs
                x0, y0 = rng.randrange(64), rng.randrange(64)
                raw = bytes(
                    ((x0 + x) * 3 + (y0 + y) * 5 + c * 40) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(ch)
                )
            payload, coefs = encode_jpeg(raw, w, h, ch, return_coefs=True)
            exp = _jpeg_reconstruct(coefs, w, h, ch)
            got = decode_jpeg(payload)
            assert got == (w, h, ch, exp), (
                f"JPEG coder drift at doc {i} ({w}x{h}x{ch})"
            )
            add(i, fmt, payload, w, h, ch, None, 1, md5(exp))
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("payload", pa.binary()),
            ("exp_format", pa.string()),
            ("exp_width", pa.int32()),
            ("exp_height", pa.int32()),
            ("exp_channels", pa.int32()),
            ("exp_sample_rate", pa.int32()),
            ("exp_n_frames", pa.int32()),
            ("exp_pixel_md5", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pydict(cols, schema=schema), path, row_group_size=4096
    )
    return path


def ensure_media_blobs(sf: float, cache_root: str | None = None) -> str:
    """Generate-once cache; returns the parquet path."""
    cache_root = cache_root or os.environ.get(
        "SPARK_GRAFT_DATA_DIR", "/root/repo/data"
    )
    # v5: JPEG + MP4/AVI/WebP rows + all five 8-bit PNG color types (round 5) —
    # the version bump keys a fresh cache dir so stale corpora never serve
    out_dir = os.path.join(cache_root, f"media_blobs_v5_sf{sf}")
    path = os.path.join(out_dir, "media_blobs.parquet")
    if not os.path.exists(path):
        write_media_parquet(sf, out_dir)
    return path
