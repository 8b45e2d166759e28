"""PDF text extraction (ISO 32000 subset) — the PDF slice of a web
crawl, distributed.

A meaningful fraction of crawled URLs serve ``application/pdf``; the
published web-text pipelines extract them into the same documents table
as HTML (Dolma's pdf pipeline, FineWeb-2 practice). This module is that
ingest stage, pure stdlib (zlib) + the repo's own LZW — no native deps,
per the environment contract.

What it implements (the subset a text extractor needs):

- **File structure**: classic cross-reference tables AND cross-reference
  streams (PDF 1.5+), ``/Prev`` chains, object streams (``/Type/ObjStm``,
  type-2 xref entries). A torn or corrupt xref falls back to a linear
  ``N G obj`` scan — truncated tails are common in crawled PDFs and must
  not kill a task (the WARC torn-tail posture).
- **Filters**: FlateDecode (with PNG predictors 10-15 and TIFF
  predictor 2), LZWDecode (the early-change variant shared with
  ``functions/tiff.py``), ASCIIHexDecode, ASCII85Decode,
  RunLengthDecode; filter chains and per-filter DecodeParms.
- **Page tree**: recursive ``/Kids`` walk, cycle-safe, with attribute
  inheritance (``/Resources``).
- **Text**: content-stream interpretation of the text operators
  (BT/ET, Tf, Td, TD, Tm, T*, TL, Tc/Tw/Tz/Ts, Tj, TJ, ', "),
  inline-image (BI..ID..EI) skipping, per-font decoding:
  ``/ToUnicode`` CMaps (bfchar + bfrange, both forms), Type0/CID
  2-byte codes, simple fonts via WinAnsi/MacRoman/Standard base
  encodings plus ``/Differences`` (minimal Adobe-glyph-list subset +
  ``uniXXXX`` names).
- **Layout-to-text**: deterministic line reconstruction — a text-space
  y movement (Td/TD/T*/' or a new Tm row) emits a newline; a TJ kern
  adjustment below -100/1000 em emits a space (the pdfminer-family
  heuristic, fixed threshold so output is reproducible).

Entry points: ``extract_pdf`` (per-page text plus title and page
count) and ``extract_pdf_text`` (pages joined with form-feeds), both
pure functions over one payload, so a Spark caller runs them inside
its own ``mapInPandas`` or UDF task.

The encoder twin ``encode_pdf`` builds deterministic spec-valid files
(classic or xref-stream/ObjStm layout, every supported filter, WinAnsi
or ToUnicode or CID text encodings) so round-trip tests pin the whole
path with in-repo fixtures, the same strategy as the image codecs.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, Iterator, List, Optional, Tuple

from markdown_lab_spark.functions.tiff import lzw_decode, lzw_encode

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def is_pdf(payload: bytes) -> bool:
    return payload[:5] == b"%PDF-"


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):  # pragma: no cover
        return f"{self.num} {self.gen} R"

    def __eq__(self, other):
        return isinstance(other, Ref) and (self.num, self.gen) == (
            other.num,
            other.gen,
        )

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("d", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.d, self.raw = d, raw


class Name(str):
    """PDF name object (/X); subclass of str so dict keys read naturally."""


# ---------------------------------------------------------------------------
# lexer / object parser
# ---------------------------------------------------------------------------


def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # '%' comment to EOL
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


def _parse_name(b: bytes, i: int) -> Tuple[Name, int]:
    i += 1  # '/'
    out = bytearray()
    n = len(b)
    while i < n and b[i] not in _WS and b[i] not in _DELIM:
        if b[i] == 0x23 and i + 2 < n:  # #xx
            out.append(int(b[i + 1 : i + 3], 16))
            i += 3
        else:
            out.append(b[i])
            i += 1
    return Name(out.decode("latin-1")), i


def _parse_literal_string(b: bytes, i: int) -> Tuple[bytes, int]:
    i += 1  # '('
    out = bytearray()
    depth = 1
    n = len(b)
    while i < n:
        c = b[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = b[i]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                i += 1
            elif e in b"()\\":
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= b[i] <= 0x37:
                    oct_digits.append(b[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated literal string")


def _parse_hex_string(b: bytes, i: int) -> Tuple[bytes, int]:
    i += 1  # '<'
    digits = bytearray()
    n = len(b)
    while i < n and b[i] != 0x3E:
        if b[i] not in _WS:
            digits.append(b[i])
        i += 1
    if len(digits) % 2:
        digits.append(0x30)
    return bytes.fromhex(digits.decode("latin-1")), i + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_KEYWORD_RE = re.compile(rb"[A-Za-z'\"*]+")


def parse_object(b: bytes, i: int) -> Tuple[object, int]:
    """One PDF object at position ``i`` (whitespace allowed before).
    Streams are returned as ``("__stream__", dict, data_start)`` — the
    document layer slices the body once /Length is resolvable."""
    i = _skip_ws(b, i)
    if i >= len(b):
        raise ValueError("eof in object")
    c = b[i]
    if c == 0x2F:
        return _parse_name(b, i)
    if c == 0x28:
        return _parse_literal_string(b, i)
    if c == 0x3C:
        if b[i : i + 2] == b"<<":
            d: dict = {}
            i += 2
            while True:
                i = _skip_ws(b, i)
                if b[i : i + 2] == b">>":
                    i += 2
                    break
                key, i = _parse_name(b, i)
                val, i = parse_object(b, i)
                d[key] = val
            j = _skip_ws(b, i)
            if b[j : j + 6] == b"stream":
                j += 6
                if b[j : j + 2] == b"\r\n":
                    j += 2
                elif b[j : j + 1] in (b"\n", b"\r"):
                    j += 1
                return ("__stream__", d, j), j
            return d, i
        return _parse_hex_string(b, i)
    if c == 0x5B:  # '['
        arr: list = []
        i += 1
        while True:
            i = _skip_ws(b, i)
            if b[i] == 0x5D:
                return arr, i + 1
            v, i = parse_object(b, i)
            arr.append(v)
    m = _NUM_RE.match(b, i)
    if m and m.start() == i:
        tok = m.group()
        j = m.end()
        if b"." not in tok:
            # possible indirect reference: int int R
            k = _skip_ws(b, j)
            m2 = _NUM_RE.match(b, k)
            if m2 and b"." not in m2.group():
                k2 = _skip_ws(b, m2.end())
                if b[k2 : k2 + 1] == b"R" and (
                    k2 + 1 >= len(b)
                    or b[k2 + 1] in _WS
                    or b[k2 + 1] in _DELIM
                ):
                    return Ref(int(tok), int(m2.group())), k2 + 1
            return int(tok), j
        return float(tok), j
    m = _KEYWORD_RE.match(b, i)
    if m and m.start() == i:
        kw = m.group()
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        return ("__kw__", kw), m.end()
    raise ValueError(f"unparseable object at {i}: {b[i:i+16]!r}")


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def _a85_decode(data: bytes) -> bytes:
    out = bytearray()
    group: List[int] = []
    for c in data:
        if c in _WS:
            continue
        if c == 0x7E:  # '~' of the '~>' EOD
            break
        if c == 0x7A and not group:  # 'z' = four zero bytes
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= c <= 0x75):
            raise ValueError("bad ascii85 byte")
        group.append(c - 33)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            out += v.to_bytes(4, "big")
            group = []
    if group:
        k = len(group)
        if k == 1:
            raise ValueError("ascii85 group of 1")
        v = 0
        for g in group + [84] * (5 - k):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _a85_encode(data: bytes) -> bytes:
    out = bytearray()
    for ofs in range(0, len(data), 4):
        chunk = data[ofs : ofs + 4]
        k = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if v == 0 and k == 4:
            out += b"z"
            continue
        digits = bytearray(5)
        for p in range(4, -1, -1):
            digits[p] = 33 + v % 85
            v //= 85
        out += digits[: k + 1]
    return bytes(out) + b"~>"


def _rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
    return bytes(out)


def _apply_predictor(data: bytes, parms: dict) -> bytes:
    pred = int(parms.get("Predictor", 1) or 1)
    if pred <= 1:
        return data
    colors = int(parms.get("Colors", 1) or 1)
    bpc = int(parms.get("BitsPerComponent", 8) or 8)
    columns = int(parms.get("Columns", 1) or 1)
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:  # TIFF horizontal differencing (8-bit path)
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r + bpp, r + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: every row is tag + rowlen bytes
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    while i + 1 <= len(data) - 1:
        tag = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        if len(row) < rowlen:
            break
        if tag == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif tag == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif tag == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                bb = prev[j]
                cc = prev[j - bpp] if j >= bpp else 0
                p = a + bb - cc
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else cc)
                row[j] = (row[j] + pr) & 0xFF
        out += row
        prev = row
        i += 1 + rowlen
    return bytes(out)


def _decode_stream_data(raw: bytes, d: dict, resolve) -> bytes:
    filters = resolve(d.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(d.get("DecodeParms") or d.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms):
        f = resolve(f)
        p = resolve(p) or {}
        if f in ("FlateDecode", "Fl"):
            data = zlib.decompressobj().decompress(data)
            data = _apply_predictor(data, {k: resolve(v) for k, v in p.items()})
        elif f in ("LZWDecode", "LZW"):
            data = lzw_decode(data, None)
            data = _apply_predictor(data, {k: resolve(v) for k, v in p.items()})
        elif f in ("ASCIIHexDecode", "AHx"):
            data = bytes.fromhex(
                data.split(b">")[0].translate(None, _WS).decode("latin-1")
            )
        elif f in ("ASCII85Decode", "A85"):
            data = _a85_decode(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _rl_decode(data)
        else:
            raise ValueError(f"unsupported filter {f}")
    return data


# ---------------------------------------------------------------------------
# document
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfDocument:
    """Random-access object store over one PDF payload. Tolerant by
    design: a broken xref (torn tail, bad offsets) falls back to a
    linear object scan, matching the crawled-corpus reality."""

    def __init__(self, payload: bytes):
        if not is_pdf(payload):
            raise ValueError("not a PDF (missing %PDF- header)")
        self.b = payload
        self.offsets: Dict[int, int] = {}
        self.compressed: Dict[int, Tuple[int, int]] = {}  # num -> (objstm, idx)
        self.trailer: dict = {}
        self._cache: Dict[int, object] = {}
        self._objstm_cache: Dict[int, Dict[int, object]] = {}
        try:
            self._load_xref()
            if "Root" not in self.trailer:
                raise ValueError("no /Root in trailer")
        except Exception:
            self._scan_fallback()

    # -- xref ---------------------------------------------------------------
    def _load_xref(self) -> None:
        tail = self.b[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("no startxref")
        pos = int(m.group(1))
        seen = set()
        while pos and pos not in seen and 0 <= pos < len(self.b):
            seen.add(pos)
            pos = self._load_xref_section(pos)

    def _load_xref_section(self, pos: int) -> int:
        i = _skip_ws(self.b, pos)
        if self.b[i : i + 4] == b"xref":
            return self._load_xref_table(i + 4)
        # cross-reference stream
        obj = self._parse_indirect_at(i)
        if not isinstance(obj, Stream) or obj.d.get("Type") != "XRef":
            raise ValueError("bad xref stream")
        data = _decode_stream_data(obj.raw, obj.d, self.resolve)
        w = [int(x) for x in obj.d["W"]]
        size = int(self.resolve(obj.d["Size"]))
        index = obj.d.get("Index", [0, size])
        rw = sum(w)
        pos_in = 0
        for k in range(0, len(index), 2):
            start, count = int(index[k]), int(index[k + 1])
            for num in range(start, start + count):
                row = data[pos_in : pos_in + rw]
                pos_in += rw
                if len(row) < rw:
                    break
                fields = []
                o = 0
                for width in w:
                    fields.append(
                        int.from_bytes(row[o : o + width], "big") if width else 1
                    )
                    o += width
                typ = fields[0]
                if typ == 1 and num not in self.offsets and num not in self.compressed:
                    self.offsets[num] = fields[1]
                elif typ == 2 and num not in self.offsets and num not in self.compressed:
                    self.compressed[num] = (fields[1], fields[2])
        for k, v in obj.d.items():
            self.trailer.setdefault(k, v)
        prev = obj.d.get("Prev")
        return int(prev) if prev is not None else 0

    def _load_xref_table(self, i: int) -> int:
        b = self.b
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 7] == b"trailer":
                i = _skip_ws(b, i + 7)
                tr, i = parse_object(b, i)
                for k, v in tr.items():
                    self.trailer.setdefault(k, v)
                if "XRefStm" in tr:  # hybrid file: also load the stream
                    try:
                        self._load_xref_section(int(tr["XRefStm"]))
                    except Exception:
                        pass
                prev = tr.get("Prev")
                return int(prev) if prev is not None else 0
            m = re.match(rb"(\d+)\s+(\d+)", b[i : i + 40])
            if not m:
                raise ValueError("bad xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_ws(b, i + m.end())
            for num in range(start, start + count):
                entry = b[i : i + 20]
                i += 20
                if entry[17:18] == b"n" and num not in self.offsets:
                    self.offsets[num] = int(entry[0:10])

    def _scan_fallback(self) -> None:
        self.offsets.clear()
        self.compressed.clear()
        for m in _OBJ_RE.finditer(self.b):
            self.offsets[int(m.group(1))] = m.start()  # later wins
        if "Root" not in self.trailer:
            mt = None
            for mt in re.finditer(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.b):
                pass
            if mt is not None:
                self.trailer["Root"] = Ref(int(mt.group(1)), int(mt.group(2)))
            else:  # last resort: find a /Type /Catalog object
                for num in list(self.offsets):
                    try:
                        o = self.get(num)
                    except Exception:
                        continue
                    if isinstance(o, dict) and o.get("Type") == "Catalog":
                        self.trailer["Root"] = Ref(num, 0)
                        break
        if "Root" not in self.trailer:
            raise ValueError("unrecoverable PDF: no catalog found")

    # -- objects ------------------------------------------------------------
    def _parse_indirect_at(self, pos: int):
        m = _OBJ_RE.match(self.b, _skip_ws(self.b, pos))
        if not m:
            raise ValueError(f"no obj header at {pos}")
        val, i = parse_object(self.b, m.end())
        if isinstance(val, tuple) and val and val[0] == "__stream__":
            _, d, data_start = val
            try:
                length = self.resolve(d.get("Length"))
            except Exception:
                length = None
            if not isinstance(length, int):
                nxt = self.b.find(b"endstream", data_start)
                length = max(0, nxt - data_start) if nxt >= 0 else 0
            return Stream(d, self.b[data_start : data_start + length])
        return val

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self.offsets:
            val = self._parse_indirect_at(self.offsets[num])
        elif num in self.compressed:
            stm_num, idx = self.compressed[num]
            val = self._objstm_objects(stm_num).get(idx)
        else:
            val = None
        self._cache[num] = val
        return val

    def _objstm_objects(self, stm_num: int) -> Dict[int, object]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stm = self.get(stm_num)
        objs: Dict[int, object] = {}
        if isinstance(stm, Stream) and stm.d.get("Type") == "ObjStm":
            data = _decode_stream_data(stm.raw, stm.d, self.resolve)
            n = int(self.resolve(stm.d["N"]))
            first = int(self.resolve(stm.d["First"]))
            i = 0
            pairs = []
            for _ in range(n):
                i = _skip_ws(data, i)
                m1 = _NUM_RE.match(data, i)
                i = _skip_ws(data, m1.end())
                m2 = _NUM_RE.match(data, i)
                i = m2.end()
                pairs.append((int(m1.group()), int(m2.group())))
            for idx, (_objnum, ofs) in enumerate(pairs):
                try:
                    objs[idx], _ = parse_object(data, first + ofs)
                except Exception:
                    pass
        self._objstm_cache[stm_num] = objs
        return objs

    def resolve(self, obj):
        seen = 0
        while isinstance(obj, Ref):
            obj = self.get(obj.num)
            seen += 1
            if seen > 32:
                raise ValueError("reference cycle")
        return obj

    def stream_bytes(self, obj) -> bytes:
        obj = self.resolve(obj)
        if not isinstance(obj, Stream):
            raise ValueError("not a stream")
        return _decode_stream_data(obj.raw, obj.d, self.resolve)

    # -- pages --------------------------------------------------------------
    def pages(self) -> List[dict]:
        root = self.resolve(self.trailer["Root"])
        out: List[dict] = []
        seen = set()

        def walk(node_ref, inherited: dict):
            if isinstance(node_ref, Ref):
                if node_ref in seen:
                    return
                seen.add(node_ref)
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                return
            inh = dict(inherited)
            for k in ("Resources", "MediaBox", "Rotate"):
                if k in node:
                    inh[k] = node[k]
            if node.get("Type") == "Page":
                page = dict(node)
                for k, v in inh.items():
                    page.setdefault(k, v)
                out.append(page)
                return
            for kid in self.resolve(node.get("Kids")) or []:
                walk(kid, inh)

        walk(root.get("Pages"), {})
        return out


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------

# minimal Adobe-glyph-list subset: the names real /Differences arrays
# use for ASCII-adjacent glyphs (full AGL unnecessary — unknown names
# fall through to uniXXXX or U+FFFD)
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "Euro": "€",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "germandbls": "ß",
}
for _c in range(0x21, 0x7F):
    _AGL.setdefault(chr(_c), chr(_c))  # single-char names map to themselves


def _glyph_to_char(name: str) -> str:
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            pass
    if len(name) == 1:
        return name
    return "�"


_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _parse_tounicode(data: bytes) -> Tuple[Dict[int, str], int]:
    """(code -> text, code byte width) from a ToUnicode CMap stream.
    Handles bfchar, both bfrange forms, and reads the code width from
    the codespace range (2 bytes for CID fonts, 1 for simple)."""
    mapping: Dict[int, str] = {}
    width = 1
    m = re.search(
        rb"begincodespacerange(.*?)endcodespacerange", data, re.S
    )
    if m:
        h = _HEX_RE.search(m.group(1))
        if h:
            width = max(1, len(h.group(1).translate(None, _WS)) // 2)

    def hex_int(tok: bytes) -> int:
        return int(tok.translate(None, _WS) or b"0", 16)

    def hex_text(tok: bytes) -> str:
        raw = bytes.fromhex(tok.translate(None, _WS).decode("latin-1"))
        return raw.decode("utf-16-be", errors="replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = _HEX_RE.findall(m.group(1))
        for k in range(0, len(toks) - 1, 2):
            mapping[hex_int(toks[k])] = hex_text(toks[k + 1])
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        i = 0
        while True:
            h1 = _HEX_RE.search(body, i)
            if not h1:
                break
            h2 = _HEX_RE.search(body, h1.end())
            if not h2:
                break
            j = _skip_ws(body, h2.end())
            lo, hi = hex_int(h1.group(1)), hex_int(h2.group(1))
            if body[j : j + 1] == b"[":
                # form 2: [ <dst> <dst> ... ]
                end = body.find(b"]", j)
                dsts = _HEX_RE.findall(body[j:end])
                for ofs, dtok in enumerate(dsts):
                    mapping[lo + ofs] = hex_text(dtok)
                i = end + 1
            else:
                h3 = _HEX_RE.search(body, j)
                if not h3:
                    break
                base_raw = h3.group(1).translate(None, _WS)
                base = hex_int(h3.group(1))
                txt0 = hex_text(h3.group(1))
                for ofs in range(hi - lo + 1):
                    if len(txt0) == 1 or len(base_raw) <= 4:
                        mapping[lo + ofs] = chr(
                            (base + ofs) & 0x10FFFF
                        ) if base + ofs <= 0x10FFFF else "�"
                    else:
                        # multi-char dst: increment the last code unit
                        mapping[lo + ofs] = txt0[:-1] + chr(
                            ord(txt0[-1]) + ofs
                        )
                i = h3.end()
    return mapping, width


class FontDecoder:
    def __init__(self, width: int, mapping: Optional[Dict[int, str]],
                 base_codec: Optional[str]):
        self.width = width
        self.mapping = mapping
        self.base_codec = base_codec

    def decode(self, s: bytes) -> str:
        if self.width == 2:
            codes = [
                int.from_bytes(s[i : i + 2], "big")
                for i in range(0, len(s) - 1, 2)
            ]
        else:
            codes = list(s)
        out = []
        for c in codes:
            if self.mapping is not None and c in self.mapping:
                out.append(self.mapping[c])
            elif self.base_codec:
                out.append(
                    bytes([c & 0xFF]).decode(self.base_codec, errors="replace")
                )
            else:
                out.append(chr(c) if c else "�")
        return "".join(out)


_BASE_CODECS = {
    "WinAnsiEncoding": "cp1252",
    "MacRomanEncoding": "mac_roman",
    "StandardEncoding": "latin-1",  # printable-ASCII-faithful approximation
}


def _font_decoder(doc: PdfDocument, font_obj) -> FontDecoder:
    f = doc.resolve(font_obj)
    if not isinstance(f, dict):
        return FontDecoder(1, None, "latin-1")
    subtype = f.get("Subtype")
    width = 2 if subtype == "Type0" else 1
    mapping = None
    if "ToUnicode" in f:
        try:
            data = doc.stream_bytes(f["ToUnicode"])
            mapping, width = _parse_tounicode(data)
        except Exception:
            mapping = None
    base_codec = "latin-1"
    enc = doc.resolve(f.get("Encoding"))
    diff_map: Dict[int, str] = {}
    if isinstance(enc, Name):
        base_codec = _BASE_CODECS.get(str(enc), "latin-1")
        if subtype == "Type0":
            base_codec = None  # Identity-H etc: no byte codec
    elif isinstance(enc, dict):
        base_codec = _BASE_CODECS.get(str(enc.get("BaseEncoding", "")), "latin-1")
        code = 0
        for item in doc.resolve(enc.get("Differences")) or []:
            item = doc.resolve(item)
            if isinstance(item, int):
                code = item
            elif isinstance(item, Name):
                diff_map[code] = _glyph_to_char(str(item))
                code += 1
    if diff_map:
        mapping = dict(mapping or {})
        for k, v in diff_map.items():
            mapping.setdefault(k, v)
    return FontDecoder(width, mapping, base_codec)


# ---------------------------------------------------------------------------
# content-stream text extraction
# ---------------------------------------------------------------------------


def _tokenize_content(data: bytes) -> Iterator[object]:
    i = 0
    n = len(data)
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            break
        c = data[i]
        if c in b"/([<" or (0x30 <= c <= 0x39) or c in b"+-." or c == 0x5B:
            try:
                val, i = parse_object(data, i)
            except ValueError:
                i += 1
                continue
            yield val
        elif c == 0x5D:  # stray ']'
            i += 1
        elif c == 0x3E and data[i : i + 2] == b">>":
            i += 2
        else:
            m = _KEYWORD_RE.match(data, i)
            if m:
                yield ("__kw__", m.group())
                i = m.end()
            else:
                i += 1


# TJ kern threshold (thousandths of an em): adjustments more negative
# than this read as an inter-word gap. Fixed so extraction is
# deterministic (the pdfminer-family convention).
_TJ_SPACE_THRESHOLD = -100.0


def _strip_inline_images(data: bytes) -> bytes:
    """Remove BI..ID..EI inline-image segments before tokenizing (their
    binary payload is not lexable)."""
    out = bytearray()
    i = 0
    n = len(data)
    while True:
        j = data.find(b"BI", i)
        if j < 0:
            out += data[i:]
            return bytes(out)
        # require token boundary
        if (j > 0 and data[j - 1] not in _WS and data[j - 1] not in _DELIM) or (
            j + 2 < n and data[j + 2] not in _WS and data[j + 2] not in _DELIM
        ):
            out += data[i : j + 2]
            i = j + 2
            continue
        k = data.find(b"EI", data.find(b"ID", j))
        if k < 0:
            out += data[i:j]
            return bytes(out)
        out += data[i:j]
        i = k + 2


def extract_pdf(payload: bytes) -> dict:
    """{'n_pages': int, 'pages': [str, ...], 'title': str|None} —
    tolerant: a malformed page contributes its recoverable prefix (or
    empty); only an unrecoverable document raises ValueError."""
    try:
        doc = PdfDocument(payload)
        pages = doc.pages()
    except ValueError:
        raise
    except Exception as exc:
        raise ValueError(f"pdf parse failed: {exc}") from exc
    texts: List[str] = []
    for p in pages:
        try:
            contents = doc.resolve(p.get("Contents"))
            if contents is None:
                texts.append("")
                continue
            if not isinstance(contents, list):
                contents = [contents]
            blob = b"\n".join(
                b for b in (_safe_stream(doc, c) for c in contents) if b
            )
            p2 = dict(p)
            p2["__predecoded__"] = blob
            texts.append(_page_text_pre(doc, p2))
        except Exception:
            texts.append("")
    title = None
    try:
        info = doc.resolve(doc.trailer.get("Info"))
        if isinstance(info, dict):
            t = doc.resolve(info.get("Title"))
            if isinstance(t, bytes):
                title = _pdf_text_string(t)
    except Exception:
        pass
    return {"n_pages": len(texts), "pages": texts, "title": title}


def _safe_stream(doc: PdfDocument, ref) -> bytes:
    try:
        return doc.stream_bytes(ref)
    except Exception:
        return b""


def _page_text_pre(doc: PdfDocument, page: dict) -> str:
    data = _strip_inline_images(page["__predecoded__"])
    page = dict(page)
    page["Contents"] = None

    resources = doc.resolve(page.get("Resources")) or {}
    fonts_dict = doc.resolve(resources.get("Font")) or {}
    decoders: Dict[str, FontDecoder] = {}

    out: List[str] = []
    stack: List[object] = []
    cur: Optional[FontDecoder] = None
    line_open = False

    def newline():
        nonlocal line_open
        if line_open:
            out.append("\n")
            line_open = False

    def emit(s):
        nonlocal line_open
        if not isinstance(s, bytes):
            return
        dec = cur or FontDecoder(1, None, "latin-1")
        txt = dec.decode(s)
        if txt:
            out.append(txt)
            line_open = True

    for tok in _tokenize_content(data):
        if not (isinstance(tok, tuple) and tok and tok[0] == "__kw__"):
            stack.append(tok)
            continue
        op = tok[1]
        try:
            if op == b"Tf" and len(stack) >= 2:
                name = str(stack[-2])
                if name not in decoders:
                    decoders[name] = _font_decoder(doc, fonts_dict.get(name))
                cur = decoders[name]
            elif op == b"Tj" and stack:
                emit(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        emit(el)
                    elif (
                        isinstance(el, (int, float))
                        and el < _TJ_SPACE_THRESHOLD
                        and line_open
                    ):
                        out.append(" ")
            elif op in (b"Td", b"TD") and len(stack) >= 2:
                ty = stack[-1]
                if isinstance(ty, (int, float)) and ty != 0:
                    newline()
            elif op in (b"T*", b"Tm", b"ET"):
                newline()
            elif op == b"'" and stack:
                newline()
                emit(stack[-1])
            elif op == b'"' and stack:
                newline()
                emit(stack[-1])
        except Exception:
            pass
        stack.clear()
    newline()
    text = "".join(out)
    return text[:-1] if text.endswith("\n") else text


def _pdf_text_string(raw: bytes) -> str:
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    return raw.decode("latin-1")


def extract_pdf_text(payload: bytes) -> str:
    """All pages joined with form-feeds — the documents-table text."""
    return "\f".join(extract_pdf(payload)["pages"])


# ---------------------------------------------------------------------------
# encoder twin (deterministic fixtures)
# ---------------------------------------------------------------------------


def _esc_literal(s: bytes) -> bytes:
    return (
        s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _content_stream(lines: List[str], encoding: str,
                    tounicode_rev: Optional[Dict[str, int]]) -> bytes:
    parts = [b"BT /F1 12 Tf 72 720 Td"]
    first = True
    for ln in lines:
        if not first:
            parts.append(b"0 -14 Td")
        first = False
        if encoding == "cid":
            codes = b"".join(
                (tounicode_rev[ch] if tounicode_rev else ord(ch)).to_bytes(2, "big")
                for ch in ln
            )
            parts.append(b"<" + codes.hex().encode() + b"> Tj")
        elif encoding == "tounicode":
            enc = bytes(tounicode_rev[ch] for ch in ln)
            parts.append(b"(" + _esc_literal(enc) + b") Tj")
        else:  # winansi
            parts.append(b"(" + _esc_literal(ln.encode("cp1252")) + b") Tj")
    parts.append(b"ET")
    return b"\n".join(parts)


def _encode_filter(data: bytes, filt: str) -> Tuple[bytes, bytes]:
    if filt == "flate":
        return zlib.compress(data), b"/Filter /FlateDecode"
    if filt == "lzw":
        return lzw_encode(data), b"/Filter /LZWDecode"
    if filt == "a85":
        return _a85_encode(data), b"/Filter /ASCII85Decode"
    if filt == "ahx":
        return data.hex().encode() + b">", b"/Filter /ASCIIHexDecode"
    if filt == "flate+a85":
        return (
            _a85_encode(zlib.compress(data)),
            b"/Filter [/ASCII85Decode /FlateDecode]",
        )
    return data, b""


def _tounicode_cmap(rev: Dict[str, int], two_byte: bool) -> bytes:
    w = 4 if two_byte else 2
    lo, hi = ("0" * w, "f" * w)
    chars = b"\n".join(
        f"<{code:0{w}x}> <{ord(ch):04x}>".encode()
        for ch, code in sorted(rev.items(), key=lambda kv: kv[1])
    )
    return (
        b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
        b"1 begincodespacerange\n<" + lo.encode() + b"> <" + hi.encode()
        + b">\nendcodespacerange\n"
        + str(len(rev)).encode() + b" beginbfchar\n" + chars
        + b"\nendbfchar\nendcmap end end\n"
    )


def encode_pdf(
    pages: List[List[str]],
    filt: str = "flate",
    encoding: str = "winansi",
    xref_stream: bool = False,
    object_streams: bool = False,
    title: Optional[str] = None,
) -> bytes:
    """Deterministic PDF builder for fixtures. ``pages`` = list of
    line-lists. ``filt``: none|flate|lzw|a85|ahx|flate+a85 (content
    streams). ``encoding``: winansi (Type1 + WinAnsiEncoding), tounicode
    (custom 1-byte codes + /ToUnicode CMap), cid (Type0, 2-byte codes +
    /ToUnicode). ``xref_stream`` writes a PDF-1.5 cross-reference
    stream; ``object_streams`` additionally packs the non-stream
    objects into an /ObjStm (implies xref_stream)."""
    if object_streams:
        xref_stream = True
    # deterministic custom code assignment for tounicode/cid fixtures
    tounicode_rev: Optional[Dict[str, int]] = None
    if encoding in ("tounicode", "cid"):
        alphabet = sorted({ch for pg in pages for ln in pg for ch in ln})
        base = 0x21
        tounicode_rev = {ch: base + i for i, ch in enumerate(alphabet)}
        if not encoding == "cid" and base + len(alphabet) > 0xFF:
            raise ValueError("alphabet too large for 1-byte fixture codes")

    objects: Dict[int, bytes] = {}  # num -> serialized body (no obj/endobj)
    streams: Dict[int, Tuple[bytes, bytes]] = {}  # num -> (dict extra, data)

    n_pages = len(pages)
    catalog_num = 1
    pages_num = 2
    font_num = 3
    tou_num = 4
    desc_num = 5
    first_page = 6
    page_nums = [first_page + 2 * i for i in range(n_pages)]
    content_nums = [first_page + 2 * i + 1 for i in range(n_pages)]
    info_num = first_page + 2 * n_pages
    next_num = info_num + 1

    objects[catalog_num] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = b" ".join(f"{p} 0 R".encode() for p in page_nums)
    objects[pages_num] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count "
        + str(n_pages).encode() + b" >>"
    )
    if encoding == "winansi":
        objects[font_num] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"
        )
    elif encoding == "tounicode":
        objects[font_num] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/ToUnicode " + str(tou_num).encode() + b" 0 R >>"
        )
        cmap = _tounicode_cmap(tounicode_rev, two_byte=False)
        streams[tou_num] = (b"", cmap)
    else:  # cid
        objects[desc_num] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Custom "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"
        )
        objects[font_num] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Custom "
            b"/Encoding /Identity-H /DescendantFonts ["
            + str(desc_num).encode() + b" 0 R] /ToUnicode "
            + str(tou_num).encode() + b" 0 R >>"
        )
        cmap = _tounicode_cmap(tounicode_rev, two_byte=True)
        streams[tou_num] = (b"", cmap)

    for pg, pnum, cnum in zip(pages, page_nums, content_nums):
        objects[pnum] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 " + str(font_num).encode()
            + b" 0 R >> >> /Contents " + str(cnum).encode() + b" 0 R >>"
        )
        # a page given as bytes is a raw content stream (lets tests pin
        # operator-level behavior: TJ kerning, Tm, quote operators)
        raw = pg if isinstance(pg, bytes) else _content_stream(pg, encoding, tounicode_rev)
        enc, fdecl = _encode_filter(raw, filt)
        streams[cnum] = (fdecl, enc)
    if title is not None:
        objects[info_num] = (
            b"<< /Title (" + _esc_literal(title.encode("latin-1")) + b") >>"
        )

    # serialize
    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n" if xref_stream
                    else b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: Dict[int, int] = {}

    def write_obj(num: int, body: bytes) -> None:
        offsets[num] = len(buf)
        buf.extend(f"{num} 0 obj\n".encode())
        buf.extend(body)
        buf.extend(b"\nendobj\n")

    def write_stream(num: int, extra: bytes, data: bytes) -> None:
        offsets[num] = len(buf)
        head = b"<< " + extra + (b" " if extra else b"") + (
            b"/Length " + str(len(data)).encode() + b" >>"
        )
        buf.extend(f"{num} 0 obj\n".encode())
        buf.extend(head)
        buf.extend(b"\nstream\n")
        buf.extend(data)
        buf.extend(b"\nendstream\nendobj\n")

    in_objstm: Dict[int, int] = {}
    if object_streams:
        # pack every non-stream object into one ObjStm
        objstm_num = next_num
        next_num += 1
        members = sorted(objects)
        header = []
        body = bytearray()
        for num in members:
            header.append(f"{num} {len(body)}".encode())
            body.extend(objects[num])
            body.extend(b" ")
        hdr = b" ".join(header) + b"\n"
        stm_data = zlib.compress(hdr + bytes(body))
        for idx, num in enumerate(members):
            in_objstm[num] = idx
        write_stream(
            objstm_num,
            b"/Type /ObjStm /N " + str(len(members)).encode()
            + b" /First " + str(len(hdr)).encode() + b" /Filter /FlateDecode",
            stm_data,
        )
    else:
        for num in sorted(objects):
            write_obj(num, objects[num])
    for num in sorted(streams):
        extra, data = streams[num]
        write_stream(num, extra, data)

    root_decl = b"/Root 1 0 R"
    info_decl = (
        b" /Info " + str(info_num).encode() + b" 0 R"
        if info_num in objects or info_num in in_objstm
        else b""
    )

    if xref_stream:
        xref_num = next_num
        size = xref_num + 1
        rows = bytearray()
        # W [1 4 2]
        entries: Dict[int, bytes] = {0: b"\x00" + (0).to_bytes(4, "big") + b"\xff\xff"}
        for num, ofs in offsets.items():
            entries[num] = b"\x01" + ofs.to_bytes(4, "big") + b"\x00\x00"
        if object_streams:
            objstm_num = next_num - 1
            for num, idx in in_objstm.items():
                entries[num] = (
                    b"\x02" + objstm_num.to_bytes(4, "big") + idx.to_bytes(2, "big")
                )
        xref_ofs = len(buf)
        entries[xref_num] = b"\x01" + xref_ofs.to_bytes(4, "big") + b"\x00\x00"
        for num in range(size):
            rows.extend(entries.get(num, b"\x00" + b"\x00" * 4 + b"\x00\x00"))
        xdata = zlib.compress(bytes(rows))
        head = (
            b"<< /Type /XRef /W [1 4 2] /Size " + str(size).encode()
            + b" /Filter /FlateDecode " + root_decl + info_decl
            + b" /Length " + str(len(xdata)).encode() + b" >>"
        )
        buf.extend(f"{xref_num} 0 obj\n".encode())
        buf.extend(head)
        buf.extend(b"\nstream\n")
        buf.extend(xdata)
        buf.extend(b"\nendstream\nendobj\n")
        buf.extend(b"startxref\n" + str(xref_ofs).encode() + b"\n%%EOF\n")
    else:
        size = max(offsets) + 1
        xref_ofs = len(buf)
        buf.extend(b"xref\n0 " + str(size).encode() + b"\n")
        buf.extend(b"0000000000 65535 f \n")
        for num in range(1, size):
            if num in offsets:
                buf.extend(f"{offsets[num]:010d} 00000 n \n".encode())
            else:
                buf.extend(b"0000000000 65535 f \n")
        buf.extend(
            b"trailer\n<< /Size " + str(size).encode() + b" " + root_decl
            + info_decl + b" >>\nstartxref\n" + str(xref_ofs).encode()
            + b"\n%%EOF\n"
        )
    return bytes(buf)
