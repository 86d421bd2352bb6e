"""Minimal real PDF text + layout extraction (public PDF spec, stdlib only).

The north_rule's extraction pipeline names "PDF/layout parse" alongside
the HTML path.  This module implements the honest subset a sandbox with
no PDF libraries can support end-to-end:

- **object scan**: ``N G obj … endobj`` spans are located by scanning
  (more robust than xref chasing for the files we target), each parsed
  with a small PDF lexer (dicts ``<<…>>``, arrays, names, numbers,
  literal ``(…)`` and hex ``<…>`` strings, ``N G R`` references);
- **streams**: ``/Filter /FlateDecode`` via :mod:`zlib` (stdlib) or
  unfiltered; other filters are reported as ``unsupported_filter``, not
  guessed at;
- **content interpreter**: the text-positioning subset — ``BT``/``ET``,
  ``Td``/``TD``/``Tm``/``T*`` positioning, ``Tj``/``'``/``"`` shows and
  ``TJ`` arrays, ``TL`` leading; graphics/state/font operators are
  skipped (no CMap/ToUnicode — bytes decode as UTF-8 with Latin-1
  fallback, correct for the writer below and for simple Latin PDFs);
- **layout**: runs group into lines by y (tolerance 0.5pt), lines sort
  top-down (PDF origin is bottom-left), lines group into blocks on
  y-gaps larger than 1.8× the median leading — the standard
  line/paragraph segmentation heuristic.

``build_pdf`` is the matching deterministic writer (used by fixtures and
tests): the writer+parser round trip is what the driver oracle checks
end-to-end against an independent SQL recomputation.
"""

from __future__ import annotations

import re
import zlib

# ------------------------------------------------------------------ lexer

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.i = pos

    def _skip_ws(self):
        d, n = self.d, len(self.d)
        while self.i < n:
            c = self.d[self.i]
            if c in _WS:
                self.i += 1
            elif c == 0x25:  # % comment
                while self.i < n and d[self.i] not in b"\r\n":
                    self.i += 1
            else:
                return

    def token(self):
        """Next syntactic token: returns a Python value, or one of the
        marker strings '<<' '>>' '[' ']' or an operator/keyword str.
        Total: malformed tokens degrade, never raise."""
        while True:
            self._skip_ws()
            d, n = self.d, len(self.d)
            if self.i >= n:
                return None
            c = d[self.i]
            if c in _DELIM and not (
                d.startswith(b"<<", self.i)
                or d.startswith(b">>", self.i)
                or c in b"[]/(<"
            ):
                self.i += 1  # lone delimiter we don't model — skip (no
                continue  # recursion: a run of them must not blow the stack)
            break
        if d.startswith(b"<<", self.i):
            self.i += 2
            return "<<"
        if d.startswith(b">>", self.i):
            self.i += 2
            return ">>"
        if c == 0x5B:
            self.i += 1
            return "["
        if c == 0x5D:
            self.i += 1
            return "]"
        if c == 0x2F:  # /Name
            self.i += 1
            start = self.i
            while self.i < n and d[self.i] not in _WS and d[self.i] not in _DELIM:
                self.i += 1
            return ("name", d[start : self.i].decode("latin-1"))
        if c == 0x28:  # (literal string)
            return ("str", self._literal_string())
        if c == 0x3C:  # <hex string>
            self.i += 1
            end = d.find(b">", self.i)
            if end < 0:  # unterminated — take the rest
                end = n
            hexs = re.sub(rb"[^0-9A-Fa-f]", b"", d[self.i : end])
            if len(hexs) % 2:
                hexs += b"0"
            self.i = min(end + 1, n)
            return ("str", bytes.fromhex(hexs.decode("ascii")))
        if c in b"+-.0123456789":
            start = self.i
            self.i += 1
            while self.i < n and d[self.i] in b"+-.0123456789":
                self.i += 1
            t = d[start : self.i]
            try:
                return ("num", float(t) if b"." in t else int(t))
            except ValueError:  # ".", "+-", ... — degrade, don't raise
                return ("num", 0)
        start = self.i
        while self.i < n and d[self.i] not in _WS and d[self.i] not in _DELIM:
            self.i += 1
        # c is neither whitespace nor a delimiter here (the skip loop above
        # consumed those), so the keyword scan always advances
        return d[start : self.i].decode("latin-1")

    def _literal_string(self) -> bytes:
        d, n = self.d, len(self.d)
        assert d[self.i] == 0x28
        self.i += 1
        out = bytearray()
        depth = 1
        while self.i < n:
            c = d[self.i]
            if c == 0x5C:  # backslash
                self.i += 1
                if self.i >= n:  # dangling backslash at EOF
                    return bytes(out)
                e = d[self.i]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.i += 1
                elif e in b"()\\":
                    out.append(e)
                    self.i += 1
                elif 0x30 <= e <= 0x37:  # octal \d{1,3}
                    oct_digits = bytearray()
                    while (
                        len(oct_digits) < 3
                        and self.i < n
                        and 0x30 <= d[self.i] <= 0x37
                    ):
                        oct_digits.append(d[self.i])
                        self.i += 1
                    out.append(int(oct_digits.decode(), 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.i += 1
                    if e == 0x0D and self.i < n and d[self.i] == 0x0A:
                        self.i += 1
                else:
                    out.append(e)
                    self.i += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.i += 1
                    return bytes(out)
                out.append(c)
                self.i += 1
            else:
                out.append(c)
                self.i += 1
        return bytes(out)

    def value(self, tok=None):
        """Parse a full object value starting at ``tok`` (or next)."""
        tok = tok if tok is not None else self.token()
        if tok == "<<":
            d = {}
            while True:
                k = self.token()
                if k == ">>" or k is None:
                    return d
                if not (isinstance(k, tuple) and k[0] == "name"):
                    continue  # malformed key; resync
                d[k[1]] = self.value()
        if tok == "[":
            arr = []
            while True:
                t = self.token()
                if t == "]" or t is None:
                    return arr
                arr.append(self.value(t))
        if isinstance(tok, tuple):
            kind, v = tok
            if kind == "num":
                # possible reference: N G R
                save = self.i
                t2 = self.token()
                if isinstance(t2, tuple) and t2[0] == "num":
                    t3 = self.token()
                    if t3 == "R":
                        return ("ref", int(v), int(t2[1]))
                self.i = save
                return v
            return v  # name / str payloads
        return tok  # keyword: true/false/null/operators


# --------------------------------------------------------------- documents

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)


def _parse_objects(data: bytes) -> dict:
    """obj number → (dict_value, stream_bytes|None, status).

    SEQUENTIAL scan: each ``N G obj`` is searched from the end of the
    previous object (past its stream payload), so byte sequences that
    merely LOOK like object headers inside stream bodies are never
    matched — a content stream containing the text "3 0 obj" must not
    shadow the real object 3 (reviewer-found; would silently corrupt
    the parse)."""
    objects = {}
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            return objects
        num = int(m.group(1))
        lex = _Lexer(data, m.end())
        val = lex.value()
        stream = None
        status = "ok"
        save = lex.i
        kw = lex.token()
        if kw == "stream":
            # EOL after 'stream' keyword: CRLF or LF
            i = lex.i
            if data[i : i + 2] == b"\r\n":
                i += 2
            elif data[i : i + 1] == b"\n":
                i += 1
            length = val.get("Length") if isinstance(val, dict) else None
            if isinstance(length, int) and data.find(
                b"endstream", i + length, i + length + 20
            ) >= 0:
                raw = data[i : i + length]
            else:
                # missing or LYING /Length (overstated lengths would span
                # past the next object header and truncate the document —
                # reviewer-found): trust the endstream marker instead
                end = data.find(b"endstream", i)
                raw = data[i : end if end >= 0 else len(data)]
                raw = raw.rstrip(b"\r\n")
            filt = val.get("Filter") if isinstance(val, dict) else None
            if isinstance(filt, tuple) and filt[0] == "name":
                filt = filt[1]
            if filt is None:
                stream = raw
            elif filt == "FlateDecode":
                try:
                    stream = zlib.decompress(raw)
                except Exception:
                    status = "bad_deflate"
            else:
                status = "unsupported_filter"
            pos = i + len(raw)
        else:
            lex.i = save
            pos = max(lex.i, m.end())
        if pos >= len(data):
            # a locally-malformed object (unterminated string/dict) made
            # the lexer consume to EOF — resync at the next endobj so the
            # REST of the document still parses (reviewer-found: the
            # naive sequential scan silently dropped every later object)
            nxt = data.find(b"endobj", m.end())
            if nxt >= 0:
                pos = nxt + len(b"endobj")
        objects[num] = (val, stream, status)


def _decode_text(b: bytes) -> str:
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _interpret_content(content: bytes) -> list:
    """Content stream → list of text runs (x, y, text)."""
    lex = _Lexer(content)
    runs = []
    x = y = 0.0
    lx = ly = 0.0  # line start (Td is relative to line matrix)
    leading = 12.0
    stack: list = []
    while True:
        tok = lex.token()
        if tok is None:
            break
        if isinstance(tok, tuple):
            if tok[0] == "num":
                stack.append(tok[1])
            elif tok[0] == "str":
                stack.append(tok[1])
            elif tok[0] == "name":
                stack.append(tok)
            continue
        if tok == "[":
            arr = lex.value("[")
            stack.append(arr)
            continue
        op = tok
        if op == "BT":
            x = y = lx = ly = 0.0
            stack.clear()
        elif op == "ET":
            stack.clear()
        elif op == "Td" and len(stack) >= 2:
            lx += stack[-2]
            ly += stack[-1]
            x, y = lx, ly
            stack.clear()
        elif op == "TD" and len(stack) >= 2:
            leading = -stack[-1] if stack[-1] else leading
            lx += stack[-2]
            ly += stack[-1]
            x, y = lx, ly
            stack.clear()
        elif op == "Tm" and len(stack) >= 6:
            lx, ly = stack[-2], stack[-1]
            x, y = lx, ly
            stack.clear()
        elif op == "T*":
            ly -= leading
            x, y = lx, ly
            stack.clear()
        elif op == "TL" and stack:
            leading = stack[-1]
            stack.clear()
        elif op == "Tj" and stack:
            if isinstance(stack[-1], bytes):
                runs.append((x, y, _decode_text(stack[-1])))
            stack.clear()
        elif op == "'" and stack:
            ly -= leading
            x, y = lx, ly
            if isinstance(stack[-1], bytes):
                runs.append((x, y, _decode_text(stack[-1])))
            stack.clear()
        elif op == '"' and len(stack) >= 3:
            ly -= leading
            x, y = lx, ly
            if isinstance(stack[-1], bytes):
                runs.append((x, y, _decode_text(stack[-1])))
            stack.clear()
        elif op == "TJ" and stack:
            if isinstance(stack[-1], list):
                text = "".join(
                    _decode_text(el) for el in stack[-1] if isinstance(el, bytes)
                )
                runs.append((x, y, text))
            stack.clear()
        else:
            stack.clear()  # any other operator consumes its operands
    return runs


# Layout grammar: runs within LINE_Y_TOL points of a line's baseline
# join that line; a line gap above BLOCK_GAP_FACTOR × the median gap
# starts a new block.
LINE_Y_TOL = 0.5
BLOCK_GAP_FACTOR = 1.8


def _layout(runs: list) -> list:
    """runs → blocks: [[line, …], …] top-down, left-right."""
    if not runs:
        return []
    lines: list = []  # (y, [(x, text)])
    for x, y, text in runs:
        for ln in lines:
            if abs(ln[0] - y) <= LINE_Y_TOL:
                ln[1].append((x, text))
                break
        else:
            lines.append((y, [(x, text)]))
    lines.sort(key=lambda ln: -ln[0])
    line_items = [
        (y, "".join(t for _x, t in sorted(parts, key=lambda p: p[0])))
        for y, parts in lines
    ]
    gaps = [line_items[i][0] - line_items[i + 1][0] for i in range(len(line_items) - 1)]
    if gaps:
        med = sorted(gaps)[(len(gaps) - 1) // 2] or 12.0
    else:
        med = 12.0
    blocks = [[line_items[0][1]]]
    for i in range(1, len(line_items)):
        if gaps[i - 1] > BLOCK_GAP_FACTOR * med:
            blocks.append([])
        blocks[-1].append(line_items[i][1])
    return blocks


def extract_pdf_text(data: bytes) -> dict:
    """bytes → {pages: [{lines, blocks}], status}.

    ``status``: 'ok', 'not_pdf', 'no_pages', 'parse_error', or the first
    stream error ('unsupported_filter'/'bad_deflate').  TOTAL: one bad
    blob must fail its row, never the Spark task — any parser escape
    (incl. pathological nesting hitting the recursion limit) degrades to
    'parse_error'."""
    if not data.startswith(b"%PDF-"):
        return {"pages": [], "status": "not_pdf"}
    try:
        return _extract_pdf_text_unsafe(data)
    except Exception:  # noqa: BLE001 — totality contract (includes
        # RecursionError from pathological nesting)
        return {"pages": [], "status": "parse_error"}


def _extract_pdf_text_unsafe(data: bytes) -> dict:
    objects = _parse_objects(data)
    status = "ok"
    pages = []
    for num in sorted(objects):
        val, _stream, _st = objects[num]
        if not (isinstance(val, dict) and val.get("Type") == "Page"):
            continue
        contents = val.get("Contents")
        refs = contents if isinstance(contents, list) else [contents]
        buf = bytearray()
        for r in refs:
            target = r[1] if isinstance(r, tuple) and r[0] == "ref" else None
            if target is None or target not in objects:
                continue
            _v, stream, st = objects[target]
            if st != "ok":
                status = st
                continue
            if stream:
                buf += stream + b"\n"
        runs = _interpret_content(bytes(buf))
        blocks = _layout(runs)
        pages.append(
            {
                "lines": [ln for blk in blocks for ln in blk],
                "blocks": blocks,
            }
        )
    if not pages:
        return {"pages": [], "status": status if status != "ok" else "no_pages"}
    return {"pages": pages, "status": status}


# ----------------------------------------------------------------- writer


def _pdf_escape(s: str) -> bytes:
    out = bytearray()
    for b in s.encode("utf-8"):
        if b in b"()\\":
            out += b"\\" + bytes([b])
        elif b < 0x20:
            out += b"\\%03o" % b
        else:
            out.append(b)
    return bytes(out)


def build_pdf(pages: list, compress: bool = False) -> bytes:
    """Deterministic PDF writer: ``pages`` is a list of pages, each a
    list of (x, y, text) line draws.  Used by fixtures/tests; the
    extractor round-trips its output exactly."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # 1-based object number

    page_obj_nums = []
    kids_placeholder = add(b"")  # 1: Pages node, patched later
    catalog = add(b"<< /Type /Catalog /Pages 1 0 R >>")
    for draws in pages:
        parts = [b"BT /F0 12 Tf"]
        for x, y, text in draws:
            parts.append(
                b"1 0 0 1 %s %s Tm (%s) Tj"
                % (
                    str(round(float(x), 2)).encode(),
                    str(round(float(y), 2)).encode(),
                    _pdf_escape(text),
                )
            )
        parts.append(b"ET")
        content = b"\n".join(parts)
        filt = b""
        if compress:
            content = zlib.compress(content)
            filt = b" /Filter /FlateDecode"
        cnum = add(
            b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(content), filt, content)
        )
        pnum = add(
            b"<< /Type /Page /Parent 1 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % cnum
        )
        page_obj_nums.append(pnum)
    kids = b" ".join(b"%d 0 R" % n for n in page_obj_nums)
    objs[kids_placeholder - 1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (
        kids,
        len(page_obj_nums),
    )

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    return bytes(out)
