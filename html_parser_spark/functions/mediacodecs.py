"""Pure-stdlib media codecs for the multimodal column plumbing.

Decoders for PNG (every 8-bit color type, all five row filters),
GIF87a/89a with a full LZW coder, BMP (24-bit uncompressed), WAV PCM
via a manual RIFF chunk walk and baseline sequential JPEG (a full T.81
coder), plus container-metadata walks for MP4, AVI and WebP.

Everything here is executor-side pure Python (no Spark imports),
derived from the public format specifications (PNG spec, GIF89a spec,
BMP BITMAPINFOHEADER layout, RIFF/WAVE, ITU T.81).  The
encoders exist so the deterministic fixture generator can build blobs
whose ground truth is stored alongside them; the decoders are the
operators under test and must reproduce that ground truth from the
bytes alone (see operators/multimodal.py media_metadata).

The reference crate (/root/reference) stops at HTML tokenization and
has no media surface; this module implements the training-data-pipeline
requirement (multimodal columns with real, value-oracled decode where
the sandbox allows).
"""

from __future__ import annotations

import io
import math
import struct
import wave
import zlib

# ------------------------------------------------------------------ PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Pure-stdlib PNG decode → (width, height, channels, raw pixels).

    Profile: every 8-bit color type — grayscale (0), truecolor (2),
    palette (3 — PLTE-expanded to RGB, channels=3), gray+alpha (4) and
    RGBA (6), no interlace.  Filters 0-4 are all
    implemented (the spec's full per-row filter set, byte stride =
    bytes per pixel).  Raises ValueError on anything else — a decode
    failure routes to a status column, never a crash, in the operator.
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, width = 8, -1
    height = channels = -1
    ctype = -1
    palette = b""
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + tag + data + crc
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype not in (0, 2, 3, 4, 6) or comp or filt or interlace:
                raise ValueError(
                    f"unsupported PNG profile: depth={depth} color={ctype} "
                    f"interlace={interlace}"
                )
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        elif tag == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            palette = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width < 0 or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    if ctype == 3 and not palette:
        raise ValueError("palette PNG without PLTE")
    stream = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(stream) != height * (stride + 1):
        raise ValueError("scanline length mismatch")
    out = bytearray(height * stride)
    prev = bytes(stride)
    for y in range(height):
        ftype = stream[y * (stride + 1)]
        row = bytearray(stream[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:
            for x in range(channels, stride):
                row[x] = (row[x] + row[x - channels]) & 0xFF
        elif ftype == 2:
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0
                row[x] = (row[x] + (a + prev[x]) // 2) & 0xFF
        elif ftype == 4:
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0
                c = prev[x - channels] if x >= channels else 0
                row[x] = (row[x] + _paeth(a, prev[x], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out[y * stride : (y + 1) * stride] = row
        prev = bytes(row)
    if ctype == 3:
        # palette expansion AFTER unfiltering (filters run on indices,
        # bpp=1 per the spec); out-of-range indices are hostile bytes
        n_entries = len(palette) // 3
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            if idx >= n_entries:
                raise ValueError(f"palette index {idx} out of range")
            rgb[3 * i : 3 * i + 3] = palette[3 * idx : 3 * idx + 3]
        return width, height, 3, bytes(rgb)
    return width, height, channels, bytes(out)


# --------------------------------------------------------------- GIF LZW
#
# Variable-width LSB-first codes, CLEAR = 1<<min_code, EOI = CLEAR+1.
# Width starts at min_code+1 and grows when the next free slot would not
# fit; the decoder grows one code EARLY (next == (1<<width)-1) because
# its table construction lags the encoder by exactly one code.  At 4096
# entries the encoder emits CLEAR and resets (the decoder follows).


def _lzw_encode(data: bytes, min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    width = min_code + 1
    emit(clear, width)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if nxt < 4096:
            table[wc] = nxt
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            nxt = eoi + 1
            width = min_code + 1
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code + 1
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # truncated stream: best-effort (EOI lost)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) == (1 << width) - 1 and width < 12:
            # decoder grows one code early: its table lags the encoder's
            # by one entry (the encoder has already assigned 1<<width)
            width += 1
        prev = entry
    # unreachable


# ------------------------------------------------------------------ GIF


def _gif_palette() -> bytes:
    """Deterministic 256-entry global color table."""
    pal = bytearray()
    for i in range(256):
        pal += bytes(((i * 3) & 0xFF, (i * 7) & 0xFF, (255 - i) & 0xFF))
    return bytes(pal)


def encode_gif(frames: list[bytes], width: int, height: int) -> bytes:
    """GIF89a encoder: 8-bit palette indices, global color table, one
    image descriptor per frame, real LZW sub-block data."""
    assert frames and all(len(f) == width * height for f in frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0xF7)  # GCT present, 8-bit resolution, 256 entries
    out.append(0)  # background color index
    out.append(0)  # pixel aspect ratio
    out += _gif_palette()
    for frame in frames:
        out.append(0x2C)  # image descriptor
        out += struct.pack("<HHHH", 0, 0, width, height)
        out.append(0)  # no local color table
        out.append(8)  # LZW min code size
        lzw = _lzw_encode(frame, 8)
        for off in range(0, len(lzw), 255):
            block = lzw[off : off + 255]
            out.append(len(block))
            out += block
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
    """GIF decode → (width, height, n_frames, concatenated index bytes).

    Supports the common still/animation profile: global color table,
    no interlace, 8-bit codes; skips extensions (GCE, comments, app
    blocks) by their sub-block structure, as the spec requires.
    """
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    width, height = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    pos = 13
    if packed & 0x80:  # global color table
        pos += 3 * (2 << (packed & 0x07))
    frames = []
    n = len(payload)
    while pos < n:
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < n and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _, _, fw, fh = struct.unpack_from("<HHHH", payload, pos)
            ipacked = payload[pos + 8]
            pos += 9
            if ipacked & 0x80:  # local color table
                pos += 3 * (2 << (ipacked & 0x07))
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            min_code = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < n and payload[pos]:
                size = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + size]
                pos += 1 + size
            pos += 1
            idx = _lzw_decode(bytes(lzw), min_code)
            if len(idx) < fw * fh:
                raise ValueError("GIF frame short of pixels")
            frames.append(idx[: fw * fh])
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF with no image data")
    return width, height, len(frames), b"".join(frames)


# ------------------------------------------------------------------ BMP


def encode_bmp(raw_rgb: bytes, width: int, height: int) -> bytes:
    """24-bit uncompressed BMP from top-down RGB bytes (stored
    bottom-up, BGR, rows padded to 4, per the public layout)."""
    assert len(raw_rgb) == width * height * 3
    pad = (-(width * 3)) % 4
    body = bytearray()
    for y in range(height - 1, -1, -1):
        row = raw_rgb[y * width * 3 : (y + 1) * width * 3]
        for x in range(width):
            r, g, b = row[x * 3 : x * 3 + 3]
            body += bytes((b, g, r))
        body += bytes(pad)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    return header + info + bytes(body)


def decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
    """BMP decode → (width, height, 3, top-down RGB bytes).  Supports
    the 24-bit uncompressed BITMAPINFOHEADER profile (bottom-up or
    top-down row order)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    (offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    if hdr_size < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP unsupported")
    planes, bpp, comp = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP profile: bpp={bpp} comp={comp}")
    topdown = height < 0
    height = abs(height)
    pad = (-(width * 3)) % 4
    stride = width * 3 + pad
    out = bytearray(width * height * 3)
    for row_i in range(height):
        y = row_i if topdown else height - 1 - row_i
        src = offset + row_i * stride
        if src + width * 3 > len(payload):
            raise ValueError("truncated BMP pixel data")
        dst = y * width * 3
        for x in range(width):
            b, g, r = payload[src + x * 3 : src + x * 3 + 3]
            out[dst + x * 3 : dst + x * 3 + 3] = bytes((r, g, b))
    return width, height, 3, bytes(out)


# ------------------------------------------------------------------ WAV


def encode_wav(pcm: bytes, channels: int, sample_rate: int) -> bytes:
    """16-bit PCM WAV via the stdlib wave module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm)
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """Manual RIFF chunk walk → (channels, sample_rate, n_frames,
    PCM bytes).  Only audio_format=1 (integer PCM); unknown chunks are
    skipped by their declared size (word-aligned), per RIFF."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV (bad RIFF/WAVE header)")
    pos = 12
    n = len(payload)
    channels = sample_rate = bits = -1
    pcm = None
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            fmt, channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1:
                raise ValueError(f"non-PCM WAV unsupported (format {fmt})")
        elif tag == b"data":
            pcm = body
    if channels < 0 or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    frame_bytes = channels * (bits // 8)
    if frame_bytes <= 0:
        # corrupt fmt chunk (bits<8 or channels=0) must route to the
        # status column, not ZeroDivisionError the task
        raise ValueError(f"corrupt WAV fmt (channels={channels}, bits={bits})")
    return channels, sample_rate, len(pcm) // frame_bytes, pcm


# ------------------------------------------- JPEG baseline coder (T.81)
#
# Full SOF0 baseline sequential DCT coder, pure stdlib: grayscale or
# YCbCr 4:4:4 (no subsampling), 8-bit precision.  The quantization and Huffman
# tables are NOT the Annex K examples — T.81 carries both in the stream
# (DQT/DHT), so the encoder emits its own deterministic tables and any
# conformant decoder (including ours) reads them back; this sidesteps
# transcribing 324 spec-table entries while staying fully conformant.
#
# Shared sample contract with the fixture's independent numpy
# reconstruction (fixtures._jpeg_reconstruct): component sample =
# clamp(round_half_even(IDCT + 128)); RGB from INTEGER YCbCr samples
# with round-half-even + clamp.  Both sides are float64, so agreement
# is exact away from .5 boundaries; the seeded fixture build asserts
# equality, making any disagreement deterministic, never flaky.


def _zigzag() -> list:
    """The T.81 zigzag scan order, generated (not transcribed): flat
    8×8 indices ordered by anti-diagonal, alternating direction."""
    order = []
    for s in range(15):
        diag = [(s - j, j) for j in range(s + 1) if 0 <= s - j < 8 and 0 <= j < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(r * 8 + c for r, c in diag)
    return order


_ZZ = _zigzag()
_DCT_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)
]
_DCT_A = [math.sqrt(1 / 8)] + [math.sqrt(2 / 8)] * 7

# Deterministic quant tables (any 1..255 values are conformant; these
# rise with frequency like every practical table, quantizing mildly so
# fixtures keep high-frequency content to exercise the AC coder)
_QT = [
    bytes(8 + 2 * ((k // 8) + (k % 8)) for k in range(64)),  # id 0 (luma/gray)
    bytes(12 + 3 * ((k // 8) + (k % 8)) for k in range(64)),  # id 1 (chroma)
]

# Canonical Huffman specs (BITS counts per length 1..16, then symbol
# list).  DC: the 12 magnitude categories as 4-bit codes (12 of 16
# slots — the all-ones code stays unassigned as T.81 requires).  AC:
# all 162 run/size symbols as 9-bit codes (162 of 512).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 8 + [162] + [0] * 7
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


def _canonical_codes(bits: list, vals: list) -> dict:
    """symbol -> (code, length) per the T.81 canonical construction."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def _fdct_quant(block: list, qt: bytes) -> list:
    """8×8 spatial (level-shifted) -> zigzagged quantized coefficients.
    ``qt`` is in NATURAL (row-major) order — the zigzag happens once, on
    the returned coefficient list (the DQT segment zigzags separately)."""
    # separable DCT-II: rows then columns, float64 throughout
    tmp = [[0.0] * 8 for _ in range(8)]
    for r in range(8):
        row = block[r]
        for u in range(8):
            cu = _DCT_COS[u]
            tmp[r][u] = _DCT_A[u] * sum(row[x] * cu[x] for x in range(8))
    coef = [0] * 64
    for u in range(8):
        for v in range(8):
            cv = _DCT_COS[v]
            val = _DCT_A[v] * sum(tmp[y][u] * cv[y] for y in range(8))
            k = v * 8 + u
            coef[k] = round(val / qt[k])
    return [coef[z] for z in _ZZ]


def _magnitude(v: int) -> tuple:
    """(category, value-bits) per T.81 F.1.2.1 — negatives code as
    v - 1 in ``category`` low bits."""
    cat, a = 0, abs(v)
    while a:
        cat += 1
        a >>= 1
    bits = v if v >= 0 else v - 1
    return cat, bits & ((1 << cat) - 1) if cat else 0


def encode_jpeg(
    raw: bytes,
    width: int,
    height: int,
    channels: int,
    return_coefs: bool = False,
):
    """Baseline JFIF encoder: ``raw`` is interleaved 8-bit RGB
    (channels=3, coded as YCbCr 4:4:4) or grayscale (channels=1).
    Edge blocks replicate the last row/column.

    ``return_coefs`` additionally returns the quantized zigzag
    coefficient blocks in scan order (one list per block, MCUs
    raster-ordered, components interleaved) — the fixture generator
    feeds them to its independent numpy reconstruction so the decode
    contract (entropy decode + dequant + IDCT + color) is what the
    ground truth exercises, without requiring the forward DCT's float
    rounding to be bit-reproducible across implementations."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if len(raw) != width * height * channels:
        raise ValueError("raw length mismatch")

    # component planes as float64 level-shifted samples
    if channels == 1:
        planes = [[float(raw[i]) - 128.0 for i in range(width * height)]]
    else:
        y_p, cb_p, cr_p = [], [], []
        for i in range(width * height):
            r, g, b = raw[3 * i], raw[3 * i + 1], raw[3 * i + 2]
            y_p.append(0.299 * r + 0.587 * g + 0.114 * b - 128.0)
            cb_p.append(-0.168736 * r - 0.331264 * g + 0.5 * b)
            cr_p.append(0.5 * r - 0.418688 * g - 0.081312 * b)
        planes = [y_p, cb_p, cr_p]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    head = bytearray(b"\xff\xd8")
    head += seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    n_qt = 1 if channels == 1 else 2
    for t in range(n_qt):
        head += seg(0xDB, bytes([t]) + bytes(_QT[t][z] for z in _ZZ))
    comp_spec = b"".join(
        bytes((c + 1, 0x11, 0 if c == 0 else 1)) for c in range(channels)
    )
    head += seg(
        0xC0, b"\x08" + struct.pack(">HH", height, width)
        + bytes([channels]) + comp_spec
    )
    n_ht = 1 if channels == 1 else 2
    for t in range(n_ht):
        head += seg(0xC4, bytes([t]) + bytes(_DC_BITS) + bytes(_DC_VALS))
        head += seg(0xC4, bytes([0x10 | t]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    scan_spec = b"".join(
        bytes((c + 1, 0 if c == 0 else 0x11)) for c in range(channels)
    )
    head += seg(0xDA, bytes([channels]) + scan_spec + b"\x00\x3f\x00")

    bw = _BitWriter()
    mcux, mcuy = (width + 7) // 8, (height + 7) // 8
    pred = [0] * channels
    coefs: list = []
    for my in range(mcuy):
        for mx in range(mcux):
            for c in range(channels):
                plane, qt = planes[c], _QT[0 if c == 0 else 1]
                block = []
                for yy in range(8):
                    py = min(my * 8 + yy, height - 1)
                    row = []
                    for xx in range(8):
                        px = min(mx * 8 + xx, width - 1)
                        row.append(plane[py * width + px])
                    block.append(row)
                zz = _fdct_quant(block, qt)
                if return_coefs:
                    coefs.append(zz)
                diff = zz[0] - pred[c]
                pred[c] = zz[0]
                cat, vbits = _magnitude(diff)
                code, ln = _DC_CODES[cat]
                bw.put(code, ln)
                if cat:
                    bw.put(vbits, cat)
                run = 0
                last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
                for k in range(1, last_nz + 1):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        zc, zl = _AC_CODES[0xF0]
                        bw.put(zc, zl)
                        run -= 16
                    cat, vbits = _magnitude(zz[k])
                    code, ln = _AC_CODES[(run << 4) | cat]
                    bw.put(code, ln)
                    bw.put(vbits, cat)
                    run = 0
                if last_nz < 63:
                    ec, el = _AC_CODES[0x00]
                    bw.put(ec, el)
    payload = bytes(head) + bw.flush() + b"\xff\xd9"
    return (payload, coefs) if return_coefs else payload


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data truncated")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(d):
                raise ValueError("JPEG entropy data truncated at FF")
            nxt = d[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError(f"unexpected marker FF{nxt:02x} in scan")
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _decode_huff_tree(bits: list, vals: list) -> dict:
    """(code, length) -> symbol lookup for the bit-at-a-time decoder."""
    return {cl: sym for sym, cl in _canonical_codes(bits, vals).items()}


def _read_symbol(br: _BitReader, tree: dict) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = tree.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _idct_block(coef: list, qt: list) -> list:
    """zigzagged quantized coefficients -> 64 uint8 samples (row-major),
    via dequant, separable float64 IDCT, +128 level shift,
    round-half-even, clamp."""
    dq = [0.0] * 64
    for i, z in enumerate(_ZZ):
        dq[z] = coef[i] * qt[i]
    # separable inverse: columns then rows (transpose of the forward)
    tmp = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        col = [dq[v * 8 + u] for v in range(8)]
        for y in range(8):
            tmp[y][u] = sum(_DCT_A[v] * col[v] * _DCT_COS[v][y] for v in range(8))
    out = []
    for y in range(8):
        row = tmp[y]
        for x in range(8):
            val = sum(_DCT_A[u] * row[u] * _DCT_COS[u][x] for u in range(8)) + 128.0
            iv = round(val)
            out.append(0 if iv < 0 else 255 if iv > 255 else iv)
    return out


def decode_jpeg(payload: bytes) -> tuple:
    """Baseline SOF0 decode → (width, height, channels, raw pixels) —
    grayscale or any 3-component scan with 1×1 sampling (4:4:4).
    Progressive (SOF2), subsampled, arithmetic-coded, restart-marker
    and Adobe-RGB (APP14 transform 0, which this YCbCr decoder would
    turn into wrong pixels) streams raise ValueError (routed to the
    status column by the operator, like every decoder here)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos, n = 2, len(payload)
    qts: dict = {}
    dc_trees: dict = {}
    ac_trees: dict = {}
    width = height = None
    comps: list = []
    scan_comps: list = []
    adobe_rgb = False
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (size,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + size]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qts[tq] = list(body[b + 1 : b + 65])
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                tree = _decode_huff_tree(bits, vals)
                (dc_trees if tc == 0 else ac_trees)[th] = tree
                b += 17 + nv
        elif marker in (0xC0, 0xC1):
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height, width = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise ValueError("subsampled JPEG unsupported")
                comps.append((cid, tq))
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_rgb = body[11] == 0
        elif marker == 0xDA:
            ns = body[0]
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            pos += 2 + size
            break
        pos += 2 + size
    if width is None or not scan_comps:
        raise ValueError("JPEG missing SOF/SOS")
    if len(scan_comps) != len(comps):
        raise ValueError("partial scans unsupported")
    if adobe_rgb and len(comps) == 3:
        raise ValueError("APP14 RGB JPEG unsupported")

    channels = len(comps)
    tq_of = dict(comps)
    br = _BitReader(payload, pos)
    mcux, mcuy = (width + 7) // 8, (height + 7) // 8
    planes = [bytearray(mcux * 8 * mcuy * 8) for _ in range(channels)]
    pred = [0] * channels
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (cid, dt, at) in enumerate(scan_comps):
                try:
                    qt = qts[tq_of[cid]]
                    dct, act = dc_trees[dt], ac_trees[at]
                except KeyError:
                    raise ValueError("scan references undefined table")
                cat = _read_symbol(br, dct)
                diff = _extend(br.bits(cat), cat) if cat else 0
                pred[ci] += diff
                coef = [0] * 64
                coef[0] = pred[ci]
                k = 1
                while k < 64:
                    sym = _read_symbol(br, act)
                    if sym == 0x00:
                        break
                    if sym == 0xF0:
                        k += 16
                        continue
                    run, cat = sym >> 4, sym & 0xF
                    k += run
                    if k > 63:
                        raise ValueError("AC coefficient index overflow")
                    coef[k] = _extend(br.bits(cat), cat)
                    k += 1
                samples = _idct_block(coef, qt)
                plane, stride = planes[ci], mcux * 8
                for yy in range(8):
                    base = (my * 8 + yy) * stride + mx * 8
                    plane[base : base + 8] = bytes(
                        samples[yy * 8 : yy * 8 + 8]
                    )

    stride = mcux * 8
    if channels == 1:
        plane = planes[0]
        out = bytearray(width * height)
        for y in range(height):
            out[y * width : (y + 1) * width] = plane[
                y * stride : y * stride + width
            ]
        return width, height, 1, bytes(out)
    out = bytearray(width * height * 3)
    yp, cbp, crp = planes
    for y in range(height):
        for x in range(width):
            i = y * stride + x
            yy, cb, cr = yp[i], cbp[i] - 128, crp[i] - 128
            r = round(yy + 1.402 * cr)
            g = round(yy - 0.344136 * cb - 0.714136 * cr)
            b = round(yy + 1.772 * cb)
            o = 3 * (y * width + x)
            out[o] = 0 if r < 0 else 255 if r > 255 else r
            out[o + 1] = 0 if g < 0 else 255 if g > 255 else g
            out[o + 2] = 0 if b < 0 else 255 if b > 255 else b
    return width, height, 3, bytes(out)


# -------------------------------------------------------------- sniffing


def sniff_format(payload: bytes) -> str:
    """Magic-byte container detection — the decode dispatch key.  The
    operator sniffs rather than trusting a format column: at corpus
    scale the metadata lies sometimes; the bytes don't."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[4:8] == b"ftyp":
        return "mp4"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "avi"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    return "unknown"


# ------------------------------------------------- WebP (header metadata)
#
# Pixel decode needs the VP8/VP8L entropy coders (libwebp — absent), but
# DIMENSIONS live in plain chunk headers for all three container
# flavors: VP8 keyframe start-code block, VP8L's packed 14-bit fields,
# VP8X's 24-bit canvas size.  Same honesty split as MP4/AVI: typed
# metadata real, content decode stubbed.


def encode_webp_fixture(width: int, height: int, kind: str = "vp8") -> bytes:
    """Minimal RIFF-WEBP with a real dimension header: ``kind`` picks
    the chunk flavor (vp8 lossy keyframe header, vp8l lossless
    signature, vp8x extended canvas).  Chunk payload beyond the header
    is deterministic filler — parseable structure, undecodable content."""
    if kind == "vp8":
        body = (
            b"\x10\x00\x00"  # keyframe tag (frame_type bit 0 = 0)
            + b"\x9d\x01\x2a"
            + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
            + bytes((i * 11 + 5) & 0xFF for i in range(24))
        )
        tag = b"VP8 "
    elif kind == "vp8l":
        bits = (width - 1) | ((height - 1) << 14)  # alpha=0, version=0
        body = b"\x2f" + struct.pack("<I", bits) + bytes(
            (i * 13 + 1) & 0xFF for i in range(16)
        )
        tag = b"VP8L"
    elif kind == "vp8x":
        body = (
            b"\x00\x00\x00\x00"
            + struct.pack("<I", width - 1)[:3]
            + struct.pack("<I", height - 1)[:3]
        )
        tag = b"VP8X"
    else:
        raise ValueError(f"unknown WebP kind {kind!r}")
    chunk = tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")
    riff_body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def webp_metadata(payload: bytes) -> tuple:
    """RIFF walk → (width, height, kind) from the first VP8/VP8L/VP8X
    chunk.  Raises ValueError on malformed chunks (routed to status)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF-WEBP stream")
    pos, end = 12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        b = pos + 8
        if b + size > end:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8 ":
            if size < 10 or payload[b + 3 : b + 6] != b"\x9d\x01\x2a":
                raise ValueError("VP8 chunk without keyframe start code")
            if payload[b] & 1:
                raise ValueError("VP8 interframe carries no dimensions")
            w, h = struct.unpack_from("<HH", payload, b + 6)
            return w & 0x3FFF, h & 0x3FFF, "vp8"
        if tag == b"VP8L":
            if size < 5 or payload[b] != 0x2F:
                raise ValueError("VP8L chunk without signature")
            (bits,) = struct.unpack_from("<I", payload, b + 1)
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "vp8l"
        if tag == b"VP8X":
            if size < 10:
                raise ValueError("truncated VP8X header")
            w = int.from_bytes(payload[b + 4 : b + 7], "little") + 1
            h = int.from_bytes(payload[b + 7 : b + 10], "little") + 1
            return w, h, "vp8x"
        pos = b + size + (size & 1)
    raise ValueError("WebP without a VP8/VP8L/VP8X chunk")


# ------------------------------------- video containers (metadata only)
#
# Round 5: the video modality's METADATA leg is real — an ISO-BMFF
# (MP4) box walk and a RIFF-AVI header walk, both pure stdlib from the
# public specs (ISO/IEC 14496-12 box structure; the classic AVIMAINHEADER
# layout).  Frame DECODE is not implemented (the codecs inside the
# containers need ffmpeg), exactly like JPEG's pixel path before round
# 5: typed metadata (dims, frame count, duration) re-derived from the
# bytes, content fingerprints not claimed.


def encode_mp4_fixture(
    width: int,
    height: int,
    n_frames: int,
    timescale: int = 1000,
    duration: int | None = None,
) -> bytes:
    """Minimal valid ISO-BMFF stream: ftyp + moov(mvhd, trak(tkhd,
    mdia(mdhd, hdlr, minf(stbl(stsd(avc1), stts, stsc, stsz, stco)))))
    + a deterministic filler mdat.  Carries real dimensions, sample
    count and duration; the media data itself is filler (no codec in
    the sandbox to produce real samples — the parser under test reads
    structure, not samples)."""
    if duration is None:
        duration = n_frames * 40  # 25 fps at the default ms timescale

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + tag + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2avc1mp41")
    mvhd = box(
        b"mvhd",
        struct.pack(">B3x", 0)
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IH2x", 0x00010000, 0x0100)
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">B3x", 0)  # version 0; flags 0 (fixture)
        + struct.pack(">IIII", 0, 0, 1, 0)
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = box(
        b"mdhd",
        struct.pack(">B3x", 0)
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = box(
        b"hdlr",
        struct.pack(">II", 0, 0)  # version/flags + pre_defined
        + b"vide"
        + b"\x00" * 12
        + b"fixture\x00",
    )
    avc1 = box(
        b"avc1",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x480000, 0x480000)
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 0x18, -1),
    )
    stsd = box(b"stsd", struct.pack(">B3xI", 0, 1) + avc1)
    stts = box(
        b"stts", struct.pack(">B3xI", 0, 1) + struct.pack(">II", n_frames, 40)
    )
    stsc = box(
        b"stsc", struct.pack(">B3xI", 0, 1) + struct.pack(">III", 1, n_frames, 1)
    )
    stsz = box(
        b"stsz",
        struct.pack(">B3xII", 0, 0, n_frames)
        + b"".join(struct.pack(">I", 16) for _ in range(n_frames)),
    )
    stco = box(b"stco", struct.pack(">B3xI", 0, 1) + struct.pack(">I", 0))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    mdat = box(b"mdat", bytes((i * 7 + 3) & 0xFF for i in range(16 * min(n_frames, 8))))
    return ftyp + moov + mdat


def mp4_metadata(payload: bytes) -> tuple:
    """ISO-BMFF box walk → (width, height, n_frames, duration_ms) of
    the first video track.  Handles version 0/1 mvhd/mdhd; raises
    ValueError on malformed box sizes (routed to the status column)."""
    if payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF stream (no ftyp)")

    def walk(start: int, end: int):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", payload, pos)
            tag = payload[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated 64-bit box header")
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError(f"malformed box size {size} at {pos}")
            yield tag, pos + hdr, pos + size
            pos += size

    def find(tag: bytes, start: int, end: int):
        for t, b, e in walk(start, end):
            if t == tag:
                return b, e
        return None

    moov = find(b"moov", 0, len(payload))
    if moov is None:
        raise ValueError("MP4 without moov")
    timescale = duration = None
    width = height = n_frames = None
    for t, b, e in walk(*moov):
        if t == b"mvhd":
            ver = payload[b]
            if ver == 1:
                timescale, duration = struct.unpack_from(">IQ", payload, b + 20)
            else:
                timescale, duration = struct.unpack_from(">II", payload, b + 12)
        elif t == b"trak" and width is None:
            mdia = find(b"mdia", b, e)
            if mdia is None:
                continue
            hdlr = find(b"hdlr", *mdia)
            if hdlr is None or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
                continue
            tkhd = find(b"tkhd", b, e)
            if tkhd is not None:
                tb = tkhd[0]
                ver = payload[tb]
                # v0 body: 4 ver/flags + 20 times/ids + 8 reserved +
                # 8 layer/group/volume + 36 matrix = 76 → width; v1
                # widens the three time/duration fields by 4 each
                off = tb + (88 if ver == 1 else 76)
                w_fp, h_fp = struct.unpack_from(">II", payload, off)
                width, height = w_fp >> 16, h_fp >> 16
            minf = find(b"minf", *mdia)
            stbl = find(b"stbl", *minf) if minf else None
            stsz = find(b"stsz", *stbl) if stbl else None
            if stsz is not None:
                _, n_frames = struct.unpack_from(">II", payload, stsz[0] + 4)
    if width is None or timescale in (None, 0):
        raise ValueError("MP4 without a video track / mvhd")
    return width, height, int(n_frames or 0), int(duration * 1000 // timescale)


def encode_avi_fixture(
    width: int, height: int, n_frames: int, us_per_frame: int = 40_000
) -> bytes:
    """Minimal RIFF-AVI: hdrl LIST with a 56-byte avih main header
    (frame cadence, total frames, dimensions) + an empty movi LIST."""
    avih = b"avih" + struct.pack(
        "<I", 56
    ) + struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0x10, n_frames, 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    movi = b"LIST" + struct.pack("<I", 4) + b"movi"
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_metadata(payload: bytes) -> tuple:
    """RIFF walk → (width, height, n_frames, duration_ms) from the
    AVIMAINHEADER.  Raises ValueError on malformed chunks."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF-AVI stream")
    pos, end = 12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if tag == b"LIST":
            if payload[pos + 8 : pos + 12] == b"hdrl":
                pos += 12  # descend into the list
                continue
        elif tag == b"avih":
            if size < 40:
                raise ValueError("truncated avih")
            vals = struct.unpack_from("<10I", payload, pos + 8)
            uspf, total, w, h = vals[0], vals[4], vals[8], vals[9]
            return w, h, total, total * uspf // 1000
        pos += 8 + size + (size & 1)
    raise ValueError("AVI without avih header")
