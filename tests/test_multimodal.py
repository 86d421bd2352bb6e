"""PNG decode: pure-stdlib encoder/decoder round trip + failure routing.

The gate query (``multimodal_metadata``) value-oracles the decode against
the generator's stored ground truth; these tests pin the decoder's spec
behavior directly — all five filter inverses, both color types, and the
honest rejection of profiles the decoder does not implement.
"""

import random
import struct

import pytest

from html_parser_spark.fixtures import encode_png
from html_parser_spark.functions.mediacodecs import decode_png


def test_round_trip_all_filters_and_color_types():
    rng = random.Random(99)
    for _ in range(40):
        w, h = rng.randint(1, 64), rng.randint(1, 64)
        ch = rng.choice([1, 3])
        raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
        got = decode_png(encode_png(raw, w, h, ch))
        assert got == (w, h, ch, raw)


def test_single_row_image_exercises_each_filter_type():
    # encode_png cycles filters by row index; a 5-row image uses 0..4
    rng = random.Random(7)
    raw = bytes(rng.randrange(256) for _ in range(5 * 8 * 3))
    w, h, ch, out = decode_png(encode_png(raw, 8, 5, 3))
    assert (w, h, ch) == (8, 5, 3) and out == raw


def test_bad_signature_rejected():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png at all")


def test_unsupported_profile_rejected():
    import struct
    import zlib

    # hand-build a 16-bit-depth IHDR: decoder must refuse, not garble
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
    chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


# ------------------------------------------------- mixed-format codecs


def test_gif_round_trip_including_lzw_reset():
    from html_parser_spark.functions.mediacodecs import decode_gif, encode_gif

    rng = random.Random(3)
    for w, h, nf in [(1, 1, 1), (5, 4, 1), (48, 48, 3), (80, 80, 2)]:
        frames = [
            bytes(rng.randrange(256) for _ in range(w * h)) for _ in range(nf)
        ]
        # 80x80 random frames push the LZW table past 4096 → exercises
        # the CLEAR-and-reset path on both coder sides
        assert decode_gif(encode_gif(frames, w, h)) == (
            w, h, nf, b"".join(frames),
        )


def test_gif_low_entropy_deep_chains():
    from html_parser_spark.functions.mediacodecs import decode_gif, encode_gif

    low = bytes((i // 97) % 4 for i in range(64 * 64))
    assert decode_gif(encode_gif([low], 64, 64)) == (64, 64, 1, low)


def test_gif_skips_extension_blocks():
    from html_parser_spark.functions.mediacodecs import decode_gif, encode_gif

    frame = bytes(range(16)) * 4
    g = bytearray(encode_gif([frame], 8, 8))
    # splice a Graphic Control Extension before the image descriptor
    # (0x2C); a spec decoder must skip it by sub-block structure
    idx = g.index(0x2C, 13 + 768)
    gce = bytes((0x21, 0xF9, 0x04, 0x00, 0x0A, 0x00, 0x00, 0x00))
    g[idx:idx] = gce
    assert decode_gif(bytes(g)) == (8, 8, 1, frame)


def test_bmp_round_trip_with_row_padding():
    from html_parser_spark.functions.mediacodecs import decode_bmp, encode_bmp

    rng = random.Random(4)
    for w, h in [(1, 1), (3, 2), (5, 4), (48, 47)]:  # w=3,5 → padded rows
        raw = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert decode_bmp(encode_bmp(raw, w, h)) == (w, h, 3, raw)


def test_wav_round_trip_manual_riff_walk():
    from html_parser_spark.functions.mediacodecs import decode_wav, encode_wav

    rng = random.Random(5)
    for ch, rate, nfr in [(1, 8000, 100), (2, 44100, 333)]:
        pcm = bytes(rng.randrange(256) for _ in range(nfr * ch * 2))
        assert decode_wav(encode_wav(pcm, ch, rate)) == (ch, rate, nfr, pcm)


def test_wav_skips_unknown_chunks():
    from html_parser_spark.functions.mediacodecs import decode_wav, encode_wav

    pcm = bytes(range(200))
    w = bytearray(encode_wav(pcm, 1, 8000))
    # splice an odd-sized LIST chunk after the WAVE tag: the walker must
    # skip it (word-aligned) and still find fmt/data
    extra = b"LIST" + (7).to_bytes(4, "little") + b"1234567" + b"\x00"
    w[12:12] = extra
    import struct

    w[4:8] = struct.pack("<I", len(w) - 8)
    assert decode_wav(bytes(w)) == (1, 8000, 100, pcm)


def test_jpeg_baseline_round_trip_matches_reference_reconstruction():
    """Round 5: the pure-Python baseline T.81 decoder must reproduce,
    bit for bit, the independent numpy reconstruction of the quantized
    coefficients the encoder committed — for grayscale and 4:4:4 color,
    noisy and smooth content, at non-multiple-of-8 dims."""
    from html_parser_spark.fixtures import _jpeg_reconstruct
    from html_parser_spark.functions.mediacodecs import (
        decode_jpeg,
        encode_jpeg,
        sniff_format,
    )

    rng = random.Random(99)
    for trial in range(12):
        w, h = rng.randint(4, 64), rng.randint(4, 64)
        ch = 1 if trial % 3 == 0 else 3
        if trial % 2:
            raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
        else:
            raw = bytes(
                ((x * 3 + y * 5 + c * 40) % 256)
                for y in range(h) for x in range(w) for c in range(ch)
            )
        payload, coefs = encode_jpeg(raw, w, h, ch, return_coefs=True)
        assert sniff_format(payload) == "jpeg"
        assert decode_jpeg(payload) == (w, h, ch, _jpeg_reconstruct(coefs, w, h, ch))


def test_jpeg_decoder_rejects_unsupported_profiles():
    """Progressive frames, restart intervals, truncated entropy data and
    Adobe APP14 RGB (transform 0) scans raise the routed ValueError class
    (status column, never a crash)."""
    from html_parser_spark.functions.mediacodecs import decode_jpeg, encode_jpeg

    rng = random.Random(5)
    raw = bytes(rng.randrange(256) for _ in range(16 * 16 * 3))
    good = encode_jpeg(raw, 16, 16, 3)
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated mid-scan
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(prog)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"BMxx")

    def with_app14(transform):
        seg = b"Adobe" + b"\x00\x64\x00\x00\x00\x00" + bytes([transform])
        return good[:2] + b"\xff\xee" + struct.pack(">H", 2 + len(seg)) + seg + good[2:]

    with pytest.raises(ValueError, match="APP14 RGB"):
        decode_jpeg(with_app14(0))
    # transform 1 (YCbCr) is what the decoder assumes: same pixels
    assert decode_jpeg(with_app14(1)) == decode_jpeg(good)


def test_sniff_dispatch_matches_ground_truth_fixture():
    """Every blob in the media fixture is sniffed to its generator
    format and decodes to the stored expectations — the single-process
    twin of the multimodal_metadata gate row."""
    import hashlib

    import pyarrow.parquet as pq

    from html_parser_spark.fixtures import ensure_media_blobs
    from html_parser_spark.functions.mediacodecs import (
        avi_metadata,
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_wav,
        mp4_metadata,
        sniff_format,
        webp_metadata,
    )

    t = pq.read_table(ensure_media_blobs(0.001)).to_pylist()
    assert len(t) >= 80
    seen = set()
    for row in t:
        b = bytes(row["payload"])
        fmt = sniff_format(b)
        assert fmt == row["exp_format"]
        seen.add(fmt)
        if fmt == "png":
            w, h, ch, raw = decode_png(b)
            assert (w, h, ch) == (row["exp_width"], row["exp_height"], row["exp_channels"])
            assert hashlib.md5(raw).hexdigest() == row["exp_pixel_md5"]
        elif fmt == "gif":
            w, h, nf, idx = decode_gif(b)
            assert (w, h, nf) == (row["exp_width"], row["exp_height"], row["exp_n_frames"])
            assert hashlib.md5(idx).hexdigest() == row["exp_pixel_md5"]
        elif fmt == "bmp":
            w, h, ch, raw = decode_bmp(b)
            assert (w, h) == (row["exp_width"], row["exp_height"])
            assert hashlib.md5(raw).hexdigest() == row["exp_pixel_md5"]
        elif fmt == "wav":
            ch, sr, nf, pcm = decode_wav(b)
            assert (ch, sr, nf) == (row["exp_channels"], row["exp_sample_rate"], row["exp_n_frames"])
            assert hashlib.md5(pcm).hexdigest() == row["exp_pixel_md5"]
        elif fmt == "jpeg":
            w, h, ch, raw = decode_jpeg(b)
            assert (w, h, ch) == (row["exp_width"], row["exp_height"], row["exp_channels"])
            assert hashlib.md5(raw).hexdigest() == row["exp_pixel_md5"]
        elif fmt == "mp4":
            w, h, nf, dur = mp4_metadata(b)
            assert (w, h, nf) == (row["exp_width"], row["exp_height"], row["exp_n_frames"])
            assert dur == nf * 40 and row["exp_pixel_md5"] is None
        elif fmt == "avi":
            w, h, nf, dur = avi_metadata(b)
            assert (w, h, nf) == (row["exp_width"], row["exp_height"], row["exp_n_frames"])
            assert dur > 0 and row["exp_pixel_md5"] is None
        else:
            assert fmt == "webp"
            w, h, kind = webp_metadata(b)
            assert (w, h) == (row["exp_width"], row["exp_height"])
            assert kind in ("vp8", "vp8l", "vp8x")
            assert row["exp_pixel_md5"] is None
    assert seen == {"png", "gif", "bmp", "wav", "jpeg", "mp4", "avi", "webp"}


def test_corrupt_blobs_route_to_status_not_crash():
    """Truncated/corrupted payloads of every container must yield a
    decode_error row, never a raised exception out of the UDF — one bad
    blob cannot be allowed to kill a corpus-scale stage."""
    import pandas as pd

    from html_parser_spark.fixtures import ensure_media_blobs
    from html_parser_spark.operators.multimodal import _media_batches

    import pyarrow.parquet as pq

    t = pq.read_table(ensure_media_blobs(0.001)).to_pylist()
    by_fmt = {}
    for row in t:
        by_fmt.setdefault(row["exp_format"], bytes(row["payload"]))
    corrupt = []
    for fmt, b in sorted(by_fmt.items()):
        corrupt.append(b[: len(b) // 2])            # truncated
        corrupt.append(b[:12] + b"\x00" * 8 + b[20:])  # scrambled header
    corrupt.append(b"\x89PNG\r\n\x1a\n")            # magic only
    corrupt.append(b"GIF89a")                        # magic only
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(corrupt))), "payload": corrupt}
    )
    (out,) = list(_media_batches(iter([pdf])))
    assert len(out) == len(corrupt)
    # every row produced; failures flagged, none raised
    assert set(out["status"]) <= {"ok", "decode_error"}
    assert (out["status"] == "decode_error").sum() >= len(by_fmt)
    # failed rows carry no partial metadata
    bad = out[out["status"] == "decode_error"]
    assert bad["pixel_md5"].isna().all() and bad["width"].isna().all()


def test_decoders_never_raise_unexpected_on_fuzz_bytes():
    """Arbitrary bytes behind each container's magic must either decode
    or raise one of the operator's routed exception classes — nothing
    else (and no hang)."""
    import random

    from html_parser_spark.functions.mediacodecs import (
        avi_metadata,
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        decode_wav,
        mp4_metadata,
        webp_metadata,
    )
    from html_parser_spark.operators.multimodal import _DECODE_ERRORS

    rng = random.Random(1234)
    magics = [
        (b"\x89PNG\r\n\x1a\n", decode_png),
        (b"GIF89a", decode_gif),
        (b"BM", decode_bmp),
        (b"RIFF\x10\x00\x00\x00WAVE", decode_wav),
        (b"\xff\xd8\xff", decode_jpeg),
        (b"\xff\xd8\xff", decode_jpeg),
        (b"\x00\x00\x00\x18ftyp", mp4_metadata),
        (b"RIFF\x20\x00\x00\x00AVI ", avi_metadata),
        (b"RIFF\x20\x00\x00\x00WEBP", webp_metadata),
    ]
    for magic, fn in magics:
        for _ in range(300):
            body = bytes(rng.randrange(256) for _ in range(rng.randint(0, 120)))
            try:
                fn(magic + body)
            except _DECODE_ERRORS:
                pass


def test_crafted_corrupt_blobs_raise_routed_errors_only():
    """Adversarial shapes the random fuzz is unlikely to hit: a WAV with
    a parseable fmt chunk declaring 0 channels / 0 bits (ZeroDivision
    risk) must raise a ROUTED class, so the operator emits
    status='decode_error' instead of crashing the task; a spec-legal GIF
    whose first frame is smaller than the logical screen must decode."""
    import struct

    from html_parser_spark.functions.mediacodecs import (
        decode_wav,
        encode_gif,
        decode_gif,
    )
    from html_parser_spark.operators.multimodal import _DECODE_ERRORS

    def wav(channels, bits):
        fmt = struct.pack("<HHIIHH", 1, channels, 8000, 8000, 1, bits)
        data = b"\x00" * 8
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    for channels, bits in [(0, 16), (1, 0), (0, 0), (1, 7)]:
        try:
            decode_wav(wav(channels, bits))
            raise AssertionError(f"corrupt fmt ({channels},{bits}) decoded")
        except _DECODE_ERRORS:
            pass

    # GIF: take a valid 2x2 encode and enlarge the logical screen to
    # 4x4 without touching the image descriptor — first frame (4 px)
    # no longer covers the screen (16 px)
    g = bytearray(encode_gif([bytes(4)], 2, 2))
    struct.pack_into("<HH", g, 6, 4, 4)
    w, h, nf, idx = decode_gif(bytes(g))
    assert (w, h) == (4, 4) and len(idx) < w * h
