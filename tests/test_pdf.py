"""PDF text extraction (sources/pdf.py): encoder-twin round-trips over
every filter and layout variant, font decoding (WinAnsi, ToUnicode,
CID, Differences), content-operator semantics, and torn-tail recovery."""

import zlib

import pytest

from markdown_lab_spark.sources.pdf import (
    PdfDocument,
    _a85_decode,
    _a85_encode,
    _apply_predictor,
    _font_decoder,
    _parse_tounicode,
    encode_pdf,
    extract_pdf,
    extract_pdf_text,
    is_pdf,
    parse_object,
    Name,
)

PAGES = [
    ["The study explains rivers.", "Second line with (parens) \\ and more."],
    ["Page two starts here.", "Another line."],
]
JOINED = ["\n".join(p) for p in PAGES]


# ---- object parser ---------------------------------------------------------
def test_parse_objects_basics():
    b = b"<< /A 1 /B [2 3.5 (st(r)ing) /Nm#20x] /C 4 0 R /D true >>"
    d, _ = parse_object(b, 0)
    assert d["A"] == 1
    assert d["B"][0] == 2 and d["B"][1] == 3.5
    assert d["B"][2] == b"st(r)ing"
    assert d["B"][3] == "Nm x"
    assert d["C"].num == 4 and d["C"].gen == 0
    assert d["D"] is True


def test_parse_literal_string_escapes():
    s, _ = parse_object(rb"(a\n b \053 \( \) \\ c)", 0)
    assert s == b"a\n b + ( ) \\ c"


def test_parse_hex_string_odd_padded():
    s, _ = parse_object(b"<41 42 5>", 0)
    assert s == b"ABP"  # 0x50 from padded '5'


# ---- filters ---------------------------------------------------------------
def test_a85_roundtrip_including_z():
    for payload in (b"", b"x", b"hello world", b"\x00" * 9, bytes(range(256))):
        assert _a85_decode(_a85_encode(payload)) == payload


def test_png_predictors_reverse():
    import random

    rng = random.Random(7)
    rowlen, rows = 8, 5
    raw = bytes(rng.randrange(256) for _ in range(rowlen * rows))
    # forward-apply each PNG filter (encoder side), then check reversal
    for tag in (1, 2, 3, 4):
        enc = bytearray()
        prev = bytes(rowlen)
        for r in range(rows):
            row = raw[r * rowlen : (r + 1) * rowlen]
            enc.append(tag)
            for j in range(rowlen):
                a = row[j - 1] if j >= 1 else 0
                b = prev[j]
                c = prev[j - 1] if j >= 1 else 0
                if tag == 1:
                    pred = a
                elif tag == 2:
                    pred = b
                elif tag == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((row[j] - pred) & 0xFF)
            prev = row
        got = _apply_predictor(
            bytes(enc), {"Predictor": 10 + tag, "Columns": rowlen}
        )
        assert got == raw, f"tag {tag}"


# ---- encoder-twin round-trips ----------------------------------------------
@pytest.mark.parametrize(
    "filt", ["none", "flate", "lzw", "a85", "ahx", "flate+a85"]
)
def test_roundtrip_filters(filt):
    payload = encode_pdf(PAGES, filt=filt)
    assert is_pdf(payload)
    d = extract_pdf(payload)
    assert d["n_pages"] == 2
    assert d["pages"] == JOINED


@pytest.mark.parametrize(
    "xs,objstm", [(True, False), (True, True)]
)
def test_roundtrip_xref_stream_and_objstm(xs, objstm):
    payload = encode_pdf(PAGES, xref_stream=xs, object_streams=objstm)
    d = extract_pdf(payload)
    assert d["pages"] == JOINED


def test_roundtrip_tounicode_unicode_text():
    pages = [["Ωμέγα σπάει", "τον κώδικα"]]
    payload = encode_pdf(pages, encoding="tounicode")
    d = extract_pdf(payload)
    assert d["pages"] == ["Ωμέγα σπάει\nτον κώδικα"]


def test_roundtrip_cid_two_byte_codes():
    pages = [["统计 数据 管道", "second 行"]]
    payload = encode_pdf(pages, encoding="cid")
    d = extract_pdf(payload)
    assert d["pages"] == ["统计 数据 管道\nsecond 行"]


def test_title_metadata():
    payload = encode_pdf([["x"]], title="A Report")
    assert extract_pdf(payload)["title"] == "A Report"


def test_extract_pdf_text_joins_pages_with_formfeed():
    payload = encode_pdf(PAGES)
    assert extract_pdf_text(payload) == "\f".join(JOINED)


# ---- content operators ------------------------------------------------------
def test_tj_array_kerning_space_and_tm_newline():
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(Hel) -20 (lo) -250 (world)] TJ "
        b"1 0 0 1 72 700 Tm (next) Tj "
        b"(same) Tj ET"
    )
    payload = encode_pdf([content])
    # -20 is intra-word kerning (no space); -250 is a word gap
    assert extract_pdf(payload)["pages"] == ["Hello world\nnextsame"]


def test_quote_operators_advance_lines():
    content = b"BT /F1 12 Tf 72 720 Td (a) Tj (b) ' 1 2 (c) \" ET"
    payload = encode_pdf([content])
    assert extract_pdf(payload)["pages"] == ["a\nb\nc"]


def test_inline_image_skipped():
    content = (
        b"BT /F1 12 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\xff(\x29\\ EI\n"
        b"BT /F1 12 Tf 72 700 Td (after) Tj ET"
    )
    payload = encode_pdf([content])
    assert extract_pdf(payload)["pages"] == ["before\nafter"]


# ---- fonts ------------------------------------------------------------------
def test_font_differences_and_uni_names():
    doc = PdfDocument(encode_pdf([["x"]]))
    font = {
        "Subtype": Name("Type1"),
        "Encoding": {
            "BaseEncoding": Name("WinAnsiEncoding"),
            "Differences": [65, Name("Omega"), Name("uni03A9"), 97, Name("bullet")],
        },
    }
    dec = _font_decoder(doc, font)
    # 65 -> unknown AGL name 'Omega' -> replacement; 66 -> uni03A9; 97 -> bullet
    assert dec.decode(b"ABa") == "�Ω•"
    assert dec.decode(b"Zz") == "Zz"  # base encoding survives


def test_parse_tounicode_bfrange_both_forms():
    cmap = (
        b"begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"2 beginbfrange\n"
        b"<0041> <0043> <03b1>\n"
        b"<0050> <0051> [<0058 0059> <005a>]\n"
        b"endbfrange\n"
        b"1 beginbfchar <0001> <00e90006> endbfchar\n"
    )
    mapping, width = _parse_tounicode(cmap)
    assert width == 2
    assert mapping[0x41] == "α" and mapping[0x43] == "γ"
    assert mapping[0x50] == "XY" and mapping[0x51] == "Z"
    assert mapping[0x1] == "é\x06"


# ---- tolerance --------------------------------------------------------------
def test_torn_tail_falls_back_to_scan():
    payload = encode_pdf(PAGES)
    torn = payload[: payload.rfind(b"xref")]  # xref + trailer gone
    d = extract_pdf(torn)
    assert d["pages"] == JOINED  # linear scan recovered everything


def test_garbage_raises_valueerror():
    with pytest.raises(ValueError):
        extract_pdf(b"%PDF-1.4\nnot really a pdf")
    with pytest.raises(ValueError):
        extract_pdf(b"GIF89a not a pdf at all")


def test_broken_page_yields_empty_not_crash():
    payload = encode_pdf(PAGES)
    # corrupt the first content stream's flate bytes
    i = payload.find(b"stream\n") + 7
    bad = payload[:i] + b"\xff\xff\xff\xff" + payload[i + 4 :]
    d = extract_pdf(bad)
    assert d["n_pages"] == 2
    assert d["pages"][1] == JOINED[1]  # second page unaffected
