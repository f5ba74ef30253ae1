"""pipeline/textextract.py — the stdlib T1 fallback backend (VERDICT
r10 Next #7): pdf (raw + FlateDecode streams, Tj/'/"/TJ operators, CID
mojibake suppression), docx (headings/lists/tables), pptx (slide
order), the LightweightConverter routing (real markdown for
born-digital files, error row naming the OCR backend for image-only
PDFs), and the Spark mapInPandas plumbing end-to-end. Fixtures are
built in-test with stdlib zipfile/zlib — no document libraries exist
in this environment, which is exactly the environment the fallback is
for."""

from __future__ import annotations

import zipfile
import zlib
from io import BytesIO

import pytest

from docling_api_spark.pipeline.textextract import (
    docx_to_markdown,
    pdf_to_markdown,
    pptx_to_markdown,
)


# ---------------------------------------------------------------------------
# fixture builders (stdlib only)
# ---------------------------------------------------------------------------

def make_pdf(content_stream: bytes, compress: bool = False) -> bytes:
    """Minimal single-page PDF around ``content_stream``. No xref table
    on purpose: the extractor scans stream objects directly (it must
    survive linearized/incrementally-updated files), and a missing xref
    is the nastiest version of that."""
    filt = b" /Filter /FlateDecode" if compress else b""
    data = zlib.compress(content_stream) if compress else content_stream
    return (
        b"%PDF-1.4\n"
        b"1 0 obj <</Type /Catalog /Pages 2 0 R>> endobj\n"
        b"2 0 obj <</Type /Pages /Kids [3 0 R] /Count 1>> endobj\n"
        b"3 0 obj <</Type /Page /Parent 2 0 R /Contents 4 0 R>> endobj\n"
        b"4 0 obj <</Length " + str(len(data)).encode() + filt
        + b">>\nstream\n" + data + b"\nendstream endobj\n"
        b"%%EOF\n"
    )


def make_docx(document_xml: str) -> bytes:
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Override PartName="/word/document.xml" ContentType="applicat'
            "ion/vnd.openxmlformats-officedocument.wordprocessingml.docume"
            'nt.main+xml"/></Types>',
        )
        zf.writestr("word/document.xml", document_xml)
    return buf.getvalue()


def make_pptx(slides: list[str]) -> bytes:
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Override PartName="/ppt/presentation.xml" ContentType="appli'
            "cation/vnd.openxmlformats-officedocument.presentationml.prese"
            'ntation.main+xml"/></Types>',
        )
        zf.writestr("ppt/presentation.xml", "<p/>")
        for i, xml in enumerate(slides, 1):
            zf.writestr(f"ppt/slides/slide{i}.xml", xml)
    return buf.getvalue()


W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'

DOCX_XML = f"""<?xml version="1.0"?>
<w:document {W_NS}><w:body>
  <w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>
    <w:r><w:t>Quarterly Report</w:t></w:r></w:p>
  <w:p><w:r><w:t>Revenue grew </w:t></w:r><w:r><w:t>12%.</w:t></w:r></w:p>
  <w:p><w:pPr><w:numPr><w:ilvl w:val="0"/></w:numPr></w:pPr>
    <w:r><w:t>first item</w:t></w:r></w:p>
  <w:p><w:pPr></w:pPr><w:r><w:t> </w:t></w:r></w:p>
  <w:tbl>
    <w:tr><w:tc><w:p><w:r><w:t>k</w:t></w:r></w:p></w:tc>
          <w:tc><w:p><w:r><w:t>v</w:t></w:r></w:p></w:tc></w:tr>
    <w:tr><w:tc><w:p><w:r><w:t>a</w:t></w:r></w:p></w:tc>
          <w:tc><w:p><w:r><w:t>1</w:t></w:r></w:p></w:tc></w:tr>
  </w:tbl>
</w:body></w:document>"""

SLIDE_XML = """<?xml version="1.0"?>
<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
       {a_ns}>
  <p:cSld><p:spTree>
    <a:p><a:r><a:t>{text}</a:t></a:r></a:p>
  </p:spTree></p:cSld>
</p:sld>""".replace("{a_ns}", A_NS)


# ---------------------------------------------------------------------------
# pdf extractor
# ---------------------------------------------------------------------------

def test_pdf_tj_and_array_operators():
    stream = (
        b"BT /F1 12 Tf 72 720 Td (Hello) Tj T* "
        b"[(Wo) -300 (rld)] TJ ET"
    )
    text = pdf_to_markdown(make_pdf(stream))
    assert text.splitlines() == ["Hello", "Wo rld"]


def test_pdf_flate_compressed_stream():
    stream = b"BT (compressed text layer) Tj ET"
    text = pdf_to_markdown(make_pdf(stream, compress=True))
    assert text == "compressed text layer"


def test_pdf_escapes_hex_and_quote_ops():
    stream = (
        rb"BT (paren \(x\) and \\slash \101) Tj "
        b"<48 6921> ' ET"
    )
    text = pdf_to_markdown(make_pdf(stream))
    # \101 octal == 'A'; hex 48 69 21 (whitespace legal) -> "Hi!";
    # ' starts a new line
    assert text.splitlines() == ["paren (x) and \\slash A", "Hi!"]


def test_pdf_image_only_yields_empty():
    # an image XObject stream, no BT/ET anywhere
    stream = b"q 100 0 0 100 0 0 cm /Im1 Do Q"
    assert pdf_to_markdown(make_pdf(stream)) == ""


def test_pdf_cid_mojibake_suppressed():
    # Identity-H style 2-byte codes decode to control soup; must not
    # leak into the output, while the simple-font line survives
    stream = (
        b"BT <0003000F00110002> Tj T* (readable line) Tj ET"
    )
    text = pdf_to_markdown(make_pdf(stream))
    assert text == "readable line"


def test_pdf_header_required():
    with pytest.raises(ValueError):
        pdf_to_markdown(b"not a pdf at all")


def test_pdf_corrupt_flate_stream_skipped():
    pdf = make_pdf(b"BT (good) Tj ET")
    bad = (
        b"9 0 obj <</Length 8 /Filter /FlateDecode>>\nstream\n"
        b"\xff\xfe\xfd\xfc\xfb\xfa\xf9\xf8\nendstream endobj\n"
    )
    assert pdf_to_markdown(pdf + bad) == "good"


# ---------------------------------------------------------------------------
# ooxml extractors
# ---------------------------------------------------------------------------

def test_docx_headings_lists_tables():
    md = docx_to_markdown(make_docx(DOCX_XML))
    lines = md.splitlines()
    assert lines[0] == "# Quarterly Report"
    assert lines[1] == "Revenue grew 12%."
    assert lines[2] == "- first item"
    # whitespace-only paragraph dropped; table renders as pipe rows
    assert lines[3] == "| k | v |"
    assert lines[4] == "|---|---|"
    assert lines[5] == "| a | 1 |"


def test_pptx_slide_order_and_sections():
    slides = [
        SLIDE_XML.replace("{text}", "Intro"),
        SLIDE_XML.replace("{text}", "Results"),
    ]
    md = pptx_to_markdown(make_pptx(slides))
    assert md.splitlines() == ["## Slide 1", "Intro", "## Slide 2", "Results"]


def test_pptx_double_digit_slides_numeric_order():
    slides = [SLIDE_XML.replace("{text}", f"s{i}") for i in range(1, 12)]
    md = pptx_to_markdown(make_pptx(slides))
    headers = [ln for ln in md.splitlines() if ln.startswith("## ")]
    assert headers == [f"## Slide {i}" for i in range(1, 12)]


# ---------------------------------------------------------------------------
# converter routing (T1 seam)
# ---------------------------------------------------------------------------

def test_lightweight_converter_extracts_pdf_docx_pptx():
    from docling_api_spark.pipeline.convert import LightweightConverter

    conv = LightweightConverter()
    r = conv.convert("report.pdf", make_pdf(b"BT (pdf body) Tj ET"))
    assert r["error"] is None and r["markdown"] == "pdf body"
    assert r["filename"] == "report"
    r = conv.convert("deck.docx", make_docx(DOCX_XML))
    assert r["error"] is None and r["markdown"].startswith("# Quarterly")
    r = conv.convert(
        "deck.pptx", make_pptx([SLIDE_XML.replace("{text}", "Intro")])
    )
    assert r["error"] is None and "## Slide 1" in r["markdown"]


def test_lightweight_converter_image_only_pdf_errors_to_ocr_backend():
    from docling_api_spark.pipeline.convert import LightweightConverter

    r = LightweightConverter().convert(
        "scan.pdf", make_pdf(b"q /Im1 Do Q")
    )
    assert r["markdown"] is None
    assert "docling" in r["error"] and "text layer" in r["error"]


def test_lightweight_converter_corrupt_docx_errors_not_raises():
    from docling_api_spark.pipeline.convert import LightweightConverter

    # valid zip, missing word/document.xml -> extraction failure is an
    # error ROW (O4 error-as-column), never an exception
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/nothing.xml", "<x/>")
        zf.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types"><Override PartName="/word/document.xml" Conten'
            'tType="application/vnd.openxmlformats-officedocument.wordproc'
            'essingml.document.main+xml"/></Types>',
        )
    r = LightweightConverter().convert("broken.docx", buf.getvalue())
    assert r["markdown"] is None and "extraction failed" in r["error"]


def test_convert_documents_pdf_through_spark(spark):
    """The mapInPandas stage end-to-end on a mixed corpus including a
    born-digital PDF and a docx — the T1 plumbing the r10 verdict's
    'partial' hinged on, now producing real markdown rows in a
    docling-less environment."""
    from docling_api_spark.pipeline.convert import convert_documents

    rows = [
        ("a/report.pdf", make_pdf(b"BT (spark pdf text) Tj ET")),
        ("a/notes.md", b"# hi\nbody"),
        ("a/deck.docx", make_docx(DOCX_XML)),
        ("a/scan.pdf", make_pdf(b"q /Im1 Do Q")),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    out = {
        r.path: r
        for r in convert_documents(df, converter="lightweight").collect()
    }
    assert out["a/report.pdf"].markdown == "spark pdf text"
    assert out["a/report.pdf"].error is None
    assert out["a/report.pdf"].format == "pdf"
    assert out["a/deck.docx"].markdown.startswith("# Quarterly Report")
    assert out["a/notes.md"].markdown == "# hi\nbody"
    assert out["a/scan.pdf"].markdown is None
    assert "docling" in out["a/scan.pdf"].error


def test_pdf_flate_stream_whose_compressed_bytes_end_in_eol():
    """r11 review finding (reproduced by execution): the old
    rstrip(b"\\r\\n") stripped trailing bytes OF THE DEFLATE PAYLOAD
    whenever the compressed stream happened to end in 0x0A/0x0D (~1% of
    streams — the adler32 tail is uniform), so decompression failed and
    a born-digital page became a false 'no text layer' error. The search
    below is deterministic: 'line 199' is the first payload of this
    shape whose zlib.compress ends with an EOL byte."""
    for i in range(500):
        stream = b"BT (line %d) Tj ET" % i
        if zlib.compress(stream).endswith((b"\n", b"\r")):
            break
    else:  # pragma: no cover - zlib output change would be loud anyway
        pytest.skip("no payload with EOL-tailed compressed form found")
    assert pdf_to_markdown(make_pdf(stream, compress=True)) == f"line {i}"


def test_pdf_uncompressed_stream_keeps_payload_trailing_newlines():
    # only the single spec EOL before endstream may be stripped; a text
    # operator block legitimately ending in newlines must survive
    pdf = make_pdf(b"BT (kept) Tj ET\n\n")
    assert pdf_to_markdown(pdf) == "kept"


# ---------------------------------------------------------------------------
# pdf embedded images (T5 for the lightweight backend)
# ---------------------------------------------------------------------------

TEXT_OBJ = (
    b"4 0 obj <</Length 19>>\nstream\nBT (fig text) Tj ET\nendstream endobj"
)
# stand-in for a /DCTDecode payload: starts with the JPEG SOI marker the
# extractor sanity-checks; content is otherwise opaque (pass-through)
JPEG_BYTES = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00opaque-jpeg-payload\xff\xd9"


def make_image_obj(
    data: bytes,
    *,
    width: int,
    height: int,
    colorspace: bytes = b"/DeviceRGB",
    bpc: int = 8,
    filt: bytes = b"/FlateDecode",
    extra: bytes = b"",
) -> bytes:
    head = (
        b"5 0 obj <</Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace %s /BitsPerComponent %d" % (width, height, colorspace, bpc)
    )
    if filt:
        head += b" /Filter " + filt
    head += extra + b" /Length %d>>" % len(data)
    return head + b"\nstream\n" + data + b"\nendstream endobj"


def make_pdf_objs(objs: list[bytes]) -> bytes:
    return b"%PDF-1.4\n" + b"\n".join(objs) + b"\n%%EOF\n"


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Minimal PNG reader for round-trip verification: checks signature
    and chunk CRCs, inflates IDAT, strips the per-row filter-0 bytes."""
    import struct

    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat = 8, b""
    w = h = ct = None
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        assert crc == zlib.crc32(tag + payload) & 0xFFFFFFFF
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ct = struct.unpack(">2I2B", payload[:10])
            assert depth == 8 and payload[10:13] == b"\x00\x00\x00"
        elif tag == b"IDAT":
            idat += payload
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
    raw = zlib.decompress(idat)
    stride = w * channels
    rows = []
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        assert row[0] == 0  # filter None
        rows.append(row[1:])
    return w, h, channels, b"".join(rows)


def test_pdf_image_flate_rgb_wrapped_as_real_png():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes(range(2 * 2 * 3))  # 2x2 RGB
    pdf = make_pdf_objs(
        [TEXT_OBJ, make_image_obj(zlib.compress(pixels), width=2, height=2)]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, pixels)


def test_pdf_image_png_predictor_rows_pass_straight_through():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # /Predictor 15: inflated bytes are PNG filter-prefixed rows already
    pixels = bytes([10, 20, 30, 40, 50, 60])  # 3x2 gray
    prefiltered = b"\x00" + pixels[:3] + b"\x00" + pixels[3:]
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(prefiltered),
                width=3,
                height=2,
                colorspace=b"/DeviceGray",
                extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 3>>",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (3, 2, 1, pixels)


def test_pdf_image_unfiltered_raster_and_dct_passthrough_in_order():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    gray = bytes([7, 8, 9, 10])
    pdf = make_pdf_objs(
        [
            make_image_obj(
                gray, width=2, height=2, colorspace=b"/DeviceGray", filt=b""
            ),
            make_image_obj(
                JPEG_BYTES, width=2, height=2, filt=b"/DCTDecode"
            ).replace(b"5 0 obj", b"6 0 obj"),
        ]
    )
    png, jpg = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 1, gray)
    assert jpg == JPEG_BYTES  # untouched JPEG file, in document order


def test_pdf_image_exotic_or_broken_objects_skipped_not_raised():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    objs = [
        # truncated CMYK raster: skipped (CMYK is RECOVERABLE since r13
        # via the naive no-ICC conversion when the length checks out)
        make_image_obj(
            zlib.compress(b"\x00" * 15), width=2, height=2,
            colorspace=b"/DeviceCMYK",
        ),
        # truncated 1-bit raster: skipped (1-bit gray is RECOVERABLE
        # since r13 when the row geometry checks out; this one is one
        # row short)
        make_image_obj(
            zlib.compress(b"\x00"), width=2, height=2,
            colorspace=b"/DeviceGray", bpc=1,
        ),
        # truncated 16-bit raster: skipped (16-bit is recoverable since
        # r13 via high-byte reduction when the length checks out)
        make_image_obj(
            zlib.compress(b"\x00" * 23), width=2, height=2,
            colorspace=b"/DeviceRGB", bpc=16,
        ),
        # 16-bit with a predictor: skipped (predictor runs on the 16-bit
        # lattice; high-byte reduction after unfiltering is not built)
        make_image_obj(
            zlib.compress(b"\x00" * 24), width=2, height=2,
            colorspace=b"/DeviceRGB", bpc=16,
            extra=b" /DecodeParms <</Predictor 2 /Colors 3 /Columns 2>>",
        ),
        # indexed with a DANGLING indirect palette reference: skipped
        # (r13 resolves indirect palettes through the object table, but
        # an unreachable one must never guess colors)
        make_image_obj(
            zlib.compress(b"\x00\x01\x02\x03"), width=2, height=2,
            colorspace=b"[/Indexed /DeviceRGB 3 7 0 R]",
        ),
        # predictor over packed index samples: skipped
        make_image_obj(
            zlib.compress(b"\x00\x01\x02\x03"), width=2, height=2,
            colorspace=b"[/Indexed /DeviceRGB 3 <000000 111111 222222 333333>]",
            extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 2>>",
        ),
        # corrupt deflate payload: skipped
        make_image_obj(b"not-deflate", width=2, height=2),
        # length mismatch (truncated raster): skipped
        make_image_obj(zlib.compress(b"\x01\x02"), width=2, height=2),
        # CCITT fax: skipped
        make_image_obj(b"\x00\x01", width=2, height=2, filt=b"/CCITTFaxDecode"),
        # DCT without a JPEG SOI: skipped
        make_image_obj(b"ZZZZ", width=2, height=2, filt=b"/DCTDecode"),
    ]
    assert pdf_extract_images(make_pdf_objs(objs)) == []


# -- r13 raster-recovery widening: indexed / sub-8-bit / TIFF predictor 2 --
def test_pdf_image_1bit_gray_rescaled_to_8bit():
    """Bilevel scans (the most common sub-8-bit shape): each bit becomes
    0 or 255; rows are byte-aligned per the PDF spec."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # 8x2: rows 0b10110010 and 0b01001101
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes([0b10110010, 0b01001101])),
                width=8, height=2, colorspace=b"/DeviceGray", bpc=1,
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    expect = bytes(
        255 * b for b in [1, 0, 1, 1, 0, 0, 1, 0, 0, 1, 0, 0, 1, 1, 0, 1]
    )
    assert decode_png(png) == (8, 2, 1, expect)


def test_pdf_image_4bit_gray_row_padding_and_rescale():
    """Odd-width 4-bit rows pad to the byte boundary; 255/15 = 17 is the
    exact rescale factor."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # 3x2: row1 samples 0x0,0xF,0x8 (padded), row2 0x5,0xA,0x3
    raw = bytes([0x0F, 0x80, 0x5A, 0x30])
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(raw), width=3, height=2,
                colorspace=b"/DeviceGray", bpc=4,
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (
        3, 2, 1, bytes(v * 17 for v in [0x0, 0xF, 0x8, 0x5, 0xA, 0x3])
    )


def test_pdf_image_indexed_rgb_hex_palette():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 8, 7])
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes([0, 1, 2, 3])), width=2, height=2,
                colorspace=b"[/Indexed /DeviceRGB 3 <" + palette.hex().encode()
                + b">]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, palette)  # indices 0..3 in order


def test_pdf_image_indexed_literal_palette_clamps_and_packs():
    """4-bit indices with a LITERAL-string palette; out-of-range indices
    clamp to hival (spec 8.6.6.3) instead of corrupting or raising."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # hival 1, palette: entry0=(10,20,30) entry1=(40,50,60); index 3 -> 1
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes([0x01, 0x30])),  # row: 0,1 then 3,0
                width=2, height=2,
                colorspace=b"[/Indexed /DeviceRGB 1 "
                # \n=10 \x14=20 \x1e=30 (=40 (escaped: unbalanced parens
                # must be) 2=50 <=60
                b"(\n\x14\x1e\\(2<)]",
                bpc=4,
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (
        2, 2, 3,
        bytes([10, 20, 30, 40, 50, 60, 40, 50, 60, 10, 20, 30]),
    )


def test_pdf_image_indexed_gray_base_and_short_palette_pads():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # hival 2 needs 3 gray entries, palette provides 2: entry2 pads to 0
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes([0, 1, 2, 1])), width=2, height=2,
                colorspace=b"[/Indexed /DeviceGray 2 <40C0>]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 1, bytes([0x40, 0xC0, 0x00, 0xC0]))


def test_pdf_image_tiff_predictor2_undiffed():
    """TIFF horizontal differencing: stored bytes are per-component
    deltas from one pixel back; recovery must reproduce the original
    pixels exactly (component-aligned, per row)."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes([10, 20, 30, 13, 25, 27, 200, 100, 0, 190, 120, 250])
    stride, channels = 6, 3
    diffed = bytearray(pixels)
    for y in (0, 1):
        for i in range(y * stride + stride - 1, y * stride + channels - 1, -1):
            diffed[i] = (diffed[i] - diffed[i - channels]) & 0xFF
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes(diffed)), width=2, height=2,
                extra=b" /DecodeParms <</Predictor 2 /Colors 3 /Columns 2>>",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, pixels)


def test_pdf_image_16bit_high_byte_reduction():
    """16-bit big-endian samples reduce to their high byte (the standard
    16->8 mapping); gray and RGB both recover."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    hi = bytes([10, 20, 30, 200])
    data16 = b"".join(bytes([h, 0xAB]) for h in hi)  # low bytes dropped
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(data16), width=2, height=2,
                colorspace=b"/DeviceGray", bpc=16,
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 1, hi)

    rgb_hi = bytes(range(12))
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(b"".join(bytes([h, 0xFF]) for h in rgb_hi)),
                width=2, height=2, colorspace=b"/DeviceRGB", bpc=16,
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, rgb_hi)


def test_pdf_image_tiff_predictor2_gray():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes([100, 110, 105, 7, 250, 9])
    diffed = bytes(
        [100, 10, 256 - 5 & 0xFF, 7, 243, 256 - 241 & 0xFF]
    )  # row-wise deltas
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(diffed), width=3, height=2,
                colorspace=b"/DeviceGray",
                extra=b" /DecodeParms <</Predictor 2 /Colors 1 /Columns 3>>",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (3, 2, 1, pixels)


def test_converter_pdf_images_spliced_into_markdown():
    from docling_api_spark.pipeline.convert import LightweightConverter

    pixels = bytes(range(12))
    pdf = make_pdf_objs(
        [
            TEXT_OBJ,
            make_image_obj(zlib.compress(pixels), width=2, height=2),
            make_image_obj(
                JPEG_BYTES, width=2, height=2, filt=b"/DCTDecode"
            ).replace(b"5 0 obj", b"6 0 obj"),
        ]
    )
    r = LightweightConverter().convert("figs.pdf", pdf)
    assert r["error"] is None
    # text first, then one spliced name per image, document order
    assert r["markdown"] == "fig text\n\npicture-1.png\n\npicture-2.png"
    assert [(i["type"], i["filename"]) for i in r["images"]] == [
        ("picture", "picture-1.png"),
        ("picture", "picture-2.png"),
    ]
    assert decode_png(r["images"][0]["image"]) == (2, 2, 3, pixels)
    assert r["images"][1]["image"] == JPEG_BYTES


# (the r11 test pinning error-for-image-only-PDF was superseded by
# test_pdf_image_only_with_recoverable_rasters_is_content — ADVICE r12
# aligned the pdf branch with the ooxml pictures-are-content rule)


# ---------------------------------------------------------------------------
# ooxml embedded images (true in-document placement)
# ---------------------------------------------------------------------------

RELS_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
R_NS = (
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
    'relationships"'
)
PNG_A = b"\x89PNG\r\n\x1a\nfake-png-a"
PNG_B = b"\x89PNG\r\n\x1a\nfake-png-b"


def make_docx_with_media(
    document_xml: str, rels_xml: str, media: dict[str, bytes]
) -> bytes:
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", document_xml)
        zf.writestr("word/_rels/document.xml.rels", rels_xml)
        for name, payload in media.items():
            zf.writestr(name, payload)
    return buf.getvalue()


DOCX_IMG_XML = f"""<?xml version="1.0"?>
<w:document {W_NS} {A_NS} {R_NS}><w:body>
  <w:p><w:r><w:t>before</w:t></w:r>
    <w:r><w:drawing><a:blip r:embed="rId7"/></w:drawing></w:r></w:p>
  <w:p><w:r><w:t>between</w:t></w:r></w:p>
  <w:p><w:r><w:drawing><a:blip r:embed="rId8"/></w:drawing></w:r></w:p>
  <w:p><w:r><w:t>after</w:t></w:r></w:p>
</w:body></w:document>"""

DOCX_IMG_RELS = f"""<?xml version="1.0"?>
<Relationships {RELS_NS}>
  <Relationship Id="rId7" Type="x/image" Target="media/image1.png"/>
  <Relationship Id="rId8" Type="x/image" Target="/word/media/image2.png"/>
</Relationships>"""


def test_docx_images_spliced_at_document_positions():
    from docling_api_spark.pipeline.convert import LightweightConverter

    docx = make_docx_with_media(
        DOCX_IMG_XML,
        DOCX_IMG_RELS,
        {"word/media/image1.png": PNG_A, "word/media/image2.png": PNG_B},
    )
    r = LightweightConverter().convert("figs.docx", docx)
    assert r["error"] is None
    # pictures land where the document places them, not appended at the end
    assert r["markdown"] == (
        "before\npicture-1.png\nbetween\npicture-2.png\nafter"
    )
    assert [i["image"] for i in r["images"]] == [PNG_A, PNG_B]


def test_docx_missing_media_leaves_placeholder_no_payload():
    from docling_api_spark.pipeline.convert import LightweightConverter
    from docling_api_spark.pipeline.textextract import docx_extract

    # rId8's media part is absent: the element has no image, so per the
    # golden cursor semantics its placeholder SURVIVES in the markdown
    # and nothing is emitted for it
    docx = make_docx_with_media(
        DOCX_IMG_XML, DOCX_IMG_RELS, {"word/media/image1.png": PNG_A}
    )
    md, payloads = docx_extract(docx, image_placeholder="<!-- image -->")
    assert payloads == [PNG_A, None]
    r = LightweightConverter().convert("figs.docx", docx)
    assert r["markdown"] == (
        "before\npicture-1.png\nbetween\n<!-- image -->\nafter"
    )
    assert [i["filename"] for i in r["images"]] == ["picture-1.png"]


def test_docx_to_markdown_unchanged_without_placeholder_opt_in():
    # the text-only entry point never emits placeholder lines even when
    # the document embeds pictures
    docx = make_docx_with_media(
        DOCX_IMG_XML,
        DOCX_IMG_RELS,
        {"word/media/image1.png": PNG_A, "word/media/image2.png": PNG_B},
    )
    assert docx_to_markdown(docx) == "before\nbetween\nafter"


def make_pptx_with_media(slides: list[tuple[str, str | None]]) -> bytes:
    """slides: (slide_xml, rels_xml-or-None) pairs; media parts fixed."""
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ppt/presentation.xml", "<p/>")
        zf.writestr("ppt/media/image1.png", PNG_A)
        for i, (xml, rels) in enumerate(slides, 1):
            zf.writestr(f"ppt/slides/slide{i}.xml", xml)
            if rels is not None:
                zf.writestr(f"ppt/slides/_rels/slide{i}.xml.rels", rels)
    return buf.getvalue()


PPTX_IMG_SLIDE = f"""<?xml version="1.0"?>
<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
       {A_NS} {R_NS}>
  <p:cSld><p:spTree>
    <p:sp><p:txBody><a:p><a:r><a:t>title line</a:t></a:r></a:p></p:txBody></p:sp>
    <p:pic><p:blipFill><a:blip r:embed="rId2"/></p:blipFill></p:pic>
    <p:sp><p:txBody><a:p><a:r><a:t>caption line</a:t></a:r></a:p></p:txBody></p:sp>
  </p:spTree></p:cSld>
</p:sld>"""

PPTX_IMG_RELS = f"""<?xml version="1.0"?>
<Relationships {RELS_NS}>
  <Relationship Id="rId2" Type="x/image" Target="../media/image1.png"/>
</Relationships>"""


def test_pptx_slide_image_between_text_lines():
    from docling_api_spark.pipeline.convert import LightweightConverter

    pptx = make_pptx_with_media(
        [
            (PPTX_IMG_SLIDE, PPTX_IMG_RELS),
            (SLIDE_XML.replace("{text}", "plain slide"), None),
        ]
    )
    r = LightweightConverter().convert("deck.pptx", pptx)
    assert r["error"] is None
    assert r["markdown"] == (
        "## Slide 1\ntitle line\npicture-1.png\ncaption line\n"
        "## Slide 2\nplain slide"
    )
    (img,) = r["images"]
    assert (img["type"], img["filename"], img["image"]) == (
        "picture", "picture-1.png", PNG_A,
    )


def test_pptx_to_markdown_unchanged_without_placeholder_opt_in():
    pptx = make_pptx_with_media([(PPTX_IMG_SLIDE, PPTX_IMG_RELS)])
    assert pptx_to_markdown(pptx) == "## Slide 1\ntitle line\ncaption line"


def test_convert_documents_pdf_images_through_spark(spark):
    """The images column (array<struct>) carries PNG payloads through
    Arrow and the mapInPandas stage — the T5 plumbing end-to-end."""
    from docling_api_spark.pipeline.convert import convert_documents

    pixels = bytes(range(12))
    pdf = make_pdf_objs(
        [TEXT_OBJ, make_image_obj(zlib.compress(pixels), width=2, height=2)]
    )
    df = spark.createDataFrame(
        [("a/figs.pdf", pdf)], "path string, content binary"
    )
    (row,) = convert_documents(df, converter="lightweight").collect()
    assert row.markdown == "fig text\n\npicture-1.png"
    ((img_type, img_name, img_bytes),) = row.images
    assert (img_type, img_name) == ("picture", "picture-1.png")
    assert decode_png(bytes(img_bytes)) == (2, 2, 3, pixels)


# ---------------------------------------------------------------------------
# review regressions (r11b adversarial pass)
# ---------------------------------------------------------------------------

def test_pdf_image_predictor_geometry_mismatch_skipped():
    """A /Predictor>=10 stream whose /Colors//Columns disagree with the
    image's colorspace/width would unfilter with the wrong stride —
    structurally valid PNG, silently corrupt pixels. Must be skipped."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rows = b"\x00" + bytes(6) + b"\x00" + bytes(6)  # 2 rows, 6 samples each
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(rows), width=2, height=2,  # RGB bpp=3 ...
                extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 6>>",
            )  # ... but predictor ran at bpp=1: lengths match, geometry lies
        ]
    )
    assert pdf_extract_images(pdf) == []


def test_pdf_smask_merges_into_rgba_not_standalone():
    """The alpha-mask companion of a transparent image is /Subtype /Image
    too, but it is a channel OF another picture, not a document picture:
    since r13 it merges into the parent as a real RGBA alpha channel
    (ONE output picture, never a standalone gray)."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rgb = bytes(range(12))
    mask = bytes([0, 64, 128, 255])
    img = make_image_obj(
        zlib.compress(rgb), width=2, height=2,
        extra=b" /SMask 7 0 R",
    )
    smask = make_image_obj(
        zlib.compress(mask), width=2, height=2, colorspace=b"/DeviceGray"
    ).replace(b"5 0 obj", b"7 0 obj")
    (png,) = pdf_extract_images(make_pdf_objs([img, smask]))
    expect = b"".join(rgb[3 * i : 3 * i + 3] + mask[i : i + 1] for i in range(4))
    assert decode_png(png) == (2, 2, 4, expect)


def test_pdf_smask_gray_parent_becomes_gray_alpha():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    gray = bytes([10, 20, 30, 40])
    mask = bytes([255, 0, 128, 7])
    img = make_image_obj(
        zlib.compress(gray), width=2, height=2, colorspace=b"/DeviceGray",
        extra=b" /SMask 7 0 R",
    )
    smask = make_image_obj(
        zlib.compress(mask), width=2, height=2, colorspace=b"/DeviceGray"
    ).replace(b"5 0 obj", b"7 0 obj")
    (png,) = pdf_extract_images(make_pdf_objs([img, smask]))
    expect = b"".join(gray[i : i + 1] + mask[i : i + 1] for i in range(4))
    assert decode_png(png) == (2, 2, 2, expect)


def test_pdf_smask_unmergeable_degrades_to_opaque_parent():
    """A mask with the wrong dimensions — or in an undecodable codec —
    must not drop the parent: it comes back opaque, and the mask is
    still not a standalone picture."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rgb = bytes(range(12))
    img = make_image_obj(
        zlib.compress(rgb), width=2, height=2, extra=b" /SMask 7 0 R",
    )
    wrong_dims = make_image_obj(
        zlib.compress(bytes(9)), width=3, height=3, colorspace=b"/DeviceGray"
    ).replace(b"5 0 obj", b"7 0 obj")
    (png,) = pdf_extract_images(make_pdf_objs([img, wrong_dims]))
    assert decode_png(png) == (2, 2, 3, rgb)

    ccitt_mask = make_image_obj(
        b"\x00\x01", width=2, height=2, colorspace=b"/DeviceGray",
        filt=b"/CCITTFaxDecode",
    ).replace(b"5 0 obj", b"7 0 obj")
    (png,) = pdf_extract_images(make_pdf_objs([img, ccitt_mask]))
    assert decode_png(png) == (2, 2, 3, rgb)

    # dangling /SMask reference (no such object): opaque parent
    (png,) = pdf_extract_images(make_pdf_objs([img]))
    assert decode_png(png) == (2, 2, 3, rgb)


def test_pdf_indirect_dimension_reference_skipped():
    """`/Width 16 0 R` is an indirect reference — 16 is an object number,
    not a width; parsing it as the value could emit wrong-dimension PNGs."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    obj = make_image_obj(zlib.compress(bytes(48)), width=2, height=2)
    obj = obj.replace(b"/Width 2", b"/Width 16 0 R").replace(
        b"/Height 2", b"/Height 4 0 R"
    )
    assert pdf_extract_images(make_pdf_objs([obj])) == []


def test_dict_int_rejects_indirect_reference_without_backtracking():
    """The negative lookahead alone is defeatable: for `/Width 16 0 R`
    the engine backtracks to (\\d+)='1' whose lookahead sees '6 0 R'
    (not \\s+\\d+\\s+R) and returns 1 — a coincidental payload length
    would then emit a PNG with wrong dimensions. The \\b end-anchor
    forbids matching a shorter digit prefix (ADVICE r12)."""
    from docling_api_spark.pipeline.textextract import _dict_int

    assert _dict_int(b"<</Width 16 0 R>>", b"Width") is None
    assert _dict_int(b"<</Width 16>>", b"Width") == 16
    # direct value followed by an unrelated indirect reference still parses
    assert _dict_int(b"<</Width 16 /SMask 5 0 R>>", b"Width") == 16


def test_pdf_image_only_with_recoverable_rasters_is_content():
    """An image-only PDF whose rasters ARE recoverable converts to an ok
    row carrying the pictures — same rule as the ooxml branch (ADVICE
    r12: previously images were only attempted when the text layer was
    non-empty, contradicting the adjacent comment). A PDF with neither
    text nor recoverable pictures still takes the OCR error path."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    pdf = make_pdf_objs(
        [make_image_obj(zlib.compress(bytes(12)), width=2, height=2)]
    )
    r = LightweightConverter().convert("scans.pdf", pdf)
    assert r["error"] is None
    assert r["markdown"] == "picture-1.png"
    assert [i["filename"] for i in r["images"]] == ["picture-1.png"]

    empty = make_pdf_objs([])
    r2 = LightweightConverter().convert("blank.pdf", empty)
    assert r2["error"] is not None and "OCR" in r2["error"]


def test_pdf_text_containing_literal_placeholder_not_hijacked():
    """A text layer that SAYS '<!-- image -->' must keep saying it: the
    picture name splices into the appended tail, never into the text."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    stream = b"BT (see <!-- image --> marker) Tj ET"
    n = len(stream)
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % n + stream + b"\nendstream endobj"
    )
    pdf = make_pdf_objs(
        [text_obj, make_image_obj(zlib.compress(bytes(12)), width=2, height=2)]
    )
    r = LightweightConverter().convert("t.pdf", pdf)
    assert r["markdown"] == "see <!-- image --> marker\n\npicture-1.png"
    assert [i["filename"] for i in r["images"]] == ["picture-1.png"]


def test_docx_text_containing_literal_placeholder_not_hijacked():
    from docling_api_spark.pipeline.convert import LightweightConverter

    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS} {A_NS} {R_NS}><w:body>
      <w:p><w:r><w:t>literal &lt;!-- image --&gt; in text</w:t></w:r></w:p>
      <w:p><w:r><w:t>here:</w:t></w:r>
        <w:r><w:drawing><a:blip r:embed="rId7"/></w:drawing></w:r></w:p>
    </w:body></w:document>"""
    docx = make_docx_with_media(
        xml, DOCX_IMG_RELS, {"word/media/image1.png": PNG_A}
    )
    r = LightweightConverter().convert("t.docx", docx)
    assert r["markdown"] == (
        "literal <!-- image --> in text\nhere:\npicture-1.png"
    )


def test_docx_all_media_missing_is_error_not_placeholder_markdown():
    """An image-only docx whose media parts are absent has no text AND no
    recoverable pictures — it must take the error row, not succeed with
    a bare placeholder as its whole markdown."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS} {A_NS} {R_NS}><w:body>
      <w:p><w:r><w:drawing><a:blip r:embed="rId7"/></w:drawing></w:r></w:p>
    </w:body></w:document>"""
    docx = make_docx_with_media(xml, DOCX_IMG_RELS, {})
    r = LightweightConverter().convert("t.docx", docx)
    assert r["markdown"] is None and r["images"] == []
    assert "docling" in r["error"]


def test_docx_image_only_with_real_media_succeeds():
    # ... but when the pictures ARE recoverable, they are the content
    from docling_api_spark.pipeline.convert import LightweightConverter

    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS} {A_NS} {R_NS}><w:body>
      <w:p><w:r><w:drawing><a:blip r:embed="rId7"/></w:drawing></w:r></w:p>
    </w:body></w:document>"""
    docx = make_docx_with_media(
        xml, DOCX_IMG_RELS, {"word/media/image1.png": PNG_A}
    )
    r = LightweightConverter().convert("t.docx", docx)
    assert r["error"] is None and r["markdown"] == "picture-1.png"
    assert [i["image"] for i in r["images"]] == [PNG_A]


def test_pptx_bullet_and_fill_blips_not_pictures():
    """a:buBlip picture bullets and shape-fill blips nest outside p:pic —
    they are glyphs/decoration, not document pictures."""
    from docling_api_spark.pipeline.textextract import pptx_extract

    slide = f"""<?xml version="1.0"?>
    <p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
           {A_NS} {R_NS}>
      <p:cSld><p:spTree>
        <p:sp><p:spPr><a:blipFill><a:blip r:embed="rId2"/></a:blipFill></p:spPr>
          <p:txBody>
            <a:p><a:pPr><a:buBlip><a:blip r:embed="rId2"/></a:buBlip></a:pPr>
              <a:r><a:t>bulleted line</a:t></a:r></a:p>
          </p:txBody></p:sp>
      </p:spTree></p:cSld>
    </p:sld>"""
    pptx = make_pptx_with_media([(slide, PPTX_IMG_RELS)])
    md, payloads = pptx_extract(pptx, image_placeholder="<!-- image -->")
    assert payloads == []
    assert md == "## Slide 1\nbulleted line"


# ---------------------------------------------------------------------------
# ToUnicode CMaps: composite-font (Identity-H CID) text recovery
# ---------------------------------------------------------------------------

def make_cmap_obj(cmap_body: bytes, compress: bool = False) -> bytes:
    filt = b" /Filter /FlateDecode" if compress else b""
    data = zlib.compress(cmap_body) if compress else cmap_body
    return (
        b"8 0 obj <</Length %d%s>>\nstream\n" % (len(data), filt)
        + data
        + b"\nendstream endobj"
    )


CMAP_BFCHAR = b"""/CIDInit /ProcSet findresource begin
begincmap
3 beginbfchar
<0003> <0048>
<000F> <0069>
<0011> <0021>
endbfchar
endcmap
end
"""


def test_pdf_cid_text_recovered_via_tounicode_bfchar():
    """The exact chunk test_pdf_cid_mojibake_suppressed drops becomes
    real text once the document carries a ToUnicode CMap for it."""
    stream = b"BT <0003000F0011> Tj T* (readable line) Tj ET"
    n = len(stream)
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % n + stream + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(CMAP_BFCHAR)])
    assert pdf_to_markdown(pdf).splitlines() == ["Hi!", "readable line"]


def test_pdf_cid_recovery_with_flate_compressed_cmap_after_content():
    # the CMap stream may follow the content stream that needs it, and
    # be Flate-compressed like any other stream
    stream = b"BT <00030003> Tj ET"
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(CMAP_BFCHAR, compress=True)])
    assert pdf_to_markdown(pdf) == "HH"


def test_pdf_cid_bfrange_base_and_array_forms():
    cmap = b"""begincmap
2 beginbfrange
<0010> <0012> <0041>
<0020> <0021> [<0058> <0059>]
endbfrange
endcmap
"""
    stream = b"BT <001000110012> Tj T* <00200021> Tj ET"
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(cmap)])
    assert pdf_to_markdown(pdf).splitlines() == ["ABC", "XY"]


def test_pdf_cid_multichar_destination_ligature():
    # a bfchar destination may be several UTF-16 code units (fi ligature
    # expanded to 'f','i')
    cmap = b"begincmap\n1 beginbfchar\n<0005> <00660069>\nendbfchar\nendcmap\n"
    stream = b"BT <0005> Tj ET"
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(cmap)])
    assert pdf_to_markdown(pdf) == "fi"


def test_pdf_cid_unmapped_code_still_suppressed():
    # a chunk with any code missing from every CMap stays dropped — the
    # every-code-must-map rule prevents half-mojibake output
    stream = b"BT <0003FFFE> Tj T* (kept) Tj ET"
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(CMAP_BFCHAR)])
    assert pdf_to_markdown(pdf) == "kept"


def test_pdf_cid_tj_array_items_recovered():
    stream = b"BT [<0003> -300 <000F>] TJ ET"
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(CMAP_BFCHAR)])
    assert pdf_to_markdown(pdf) == "H i"


def test_pdf_cmap_stream_is_not_a_text_stream():
    # a CMap body containing the letters "BT" must not be replayed as a
    # content stream
    cmap = b"begincmap %% BT comment\n1 beginbfchar\n<0003> <0041>\nendbfchar\nendcmap\n"
    pdf = make_pdf_objs([make_cmap_obj(cmap)])
    assert pdf_to_markdown(pdf) == ""


def test_pdf_hostile_bfrange_capped():
    # a full-codespace range must not blow memory; parsing stays bounded
    # and the mapped prefix still decodes
    cmap = b"begincmap\n1 beginbfrange\n<0000> <FFFF> <0041>\nendbfrange\nendcmap\n"
    stream = b"BT <00000001> Tj ET"
    text_obj = (
        b"4 0 obj <</Length %d>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream endobj"
    )
    pdf = make_pdf_objs([text_obj, make_cmap_obj(cmap)])
    assert pdf_to_markdown(pdf) == "AB"


# ---------------------------------------------------------------------------
# ooxml fidelity: pptx tables, docx tab/break runs
# ---------------------------------------------------------------------------

def test_pptx_table_renders_as_pipe_table_not_loose_lines():
    slide = f"""<?xml version="1.0"?>
    <p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
           {A_NS}>
      <p:cSld><p:spTree>
        <p:sp><p:txBody><a:p><a:r><a:t>above</a:t></a:r></a:p></p:txBody></p:sp>
        <p:graphicFrame><a:graphic><a:graphicData><a:tbl>
          <a:tr><a:tc><a:txBody><a:p><a:r><a:t>k</a:t></a:r></a:p></a:txBody></a:tc>
                <a:tc><a:txBody><a:p><a:r><a:t>v</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
          <a:tr><a:tc><a:txBody><a:p><a:r><a:t>a</a:t></a:r></a:p>
                      <a:p><a:r><a:t>a2</a:t></a:r></a:p></a:txBody></a:tc>
                <a:tc><a:txBody><a:p><a:r><a:t>1</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        </a:tbl></a:graphicData></a:graphic></p:graphicFrame>
        <p:sp><p:txBody><a:p><a:r><a:t>below</a:t></a:r></a:p></p:txBody></p:sp>
      </p:spTree></p:cSld>
    </p:sld>"""
    md = pptx_to_markdown(make_pptx([slide]))
    # cell paragraphs fold into pipe cells (multi-paragraph cell joined
    # with a space) and are NOT re-emitted as loose lines
    assert md.splitlines() == [
        "## Slide 1",
        "above",
        "| k | v |",
        "|---|---|",
        "| a a2 | 1 |",
        "below",
    ]


def test_docx_tab_and_break_runs_become_spaces():
    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS}><w:body>
      <w:p><w:pPr><w:tabs><w:tab w:val="left" w:pos="720"/></w:tabs></w:pPr>
        <w:r><w:t>Jan</w:t><w:tab/><w:t>Feb</w:t><w:br/><w:t>Mar</w:t></w:r></w:p>
    </w:body></w:document>"""
    # run-level tab/br separate words; the w:pPr tab-STOP definition does
    # not inject a leading space
    assert docx_to_markdown(make_docx(xml)) == "Jan Feb Mar"


# ---------------------------------------------------------------------------
# filter chains (ASCIIHex / ASCII85 / Flate compositions)
# ---------------------------------------------------------------------------

def test_pdf_text_ascii85_then_flate_chain():
    import base64

    stream = b"BT (chained text) Tj ET"
    data = base64.a85encode(zlib.compress(stream)) + b"~>"
    obj = (
        b"4 0 obj <</Length " + str(len(data)).encode()
        + b" /Filter [/ASCII85Decode /FlateDecode]>>\nstream\n"
        + data + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj])) == "chained text"


def test_pdf_text_asciihex_stream():
    stream = b"BT (hex encoded) Tj ET"
    data = stream.hex().encode("ascii") + b">"
    obj = (
        b"4 0 obj <</Length " + str(len(data)).encode()
        + b" /Filter /ASCIIHexDecode>>\nstream\n"
        + data + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj])) == "hex encoded"


def test_pdf_image_ascii85_flate_raster_chain():
    import base64

    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes(range(12))
    data = base64.a85encode(zlib.compress(pixels)) + b"~>"
    obj = (
        b"5 0 obj <</Subtype /Image /Width 2 /Height 2 /ColorSpace "
        b"/DeviceRGB /BitsPerComponent 8 "
        b"/Filter [/ASCII85Decode /FlateDecode] /Length %d>>\nstream\n"
        % len(data)
        + data
        + b"\nendstream endobj"
    )
    (png,) = pdf_extract_images(make_pdf_objs([obj]))
    assert decode_png(png) == (2, 2, 3, pixels)


def test_pdf_unsupported_filter_stream_skipped_entirely():
    # LZW text stream: not decodable with the stdlib; its raw bytes must
    # not be scanned for BT either
    data = b"garbage BT (never this) Tj ET garbage"
    obj = (
        b"4 0 obj <</Length " + str(len(data)).encode()
        + b" /Filter /LZWDecode>>\nstream\n"
        + data + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj])) == ""


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Reference LZW encoder for round-trip tests (PDF/TIFF variant:
    9-12 bit codes, 256=clear, 257=EOD, early width change). A full
    4096-entry table is cleared, so inputs of any length encode."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)
        bitbuf &= (1 << nbits) - 1

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        # encoder's next_code leads the decoder's by exactly one entry at
        # every code boundary (the decoder learns each entry one code
        # later), so its bump threshold is one HIGHER than the decoder's
        # canonical next_code + early >= 2^width (verified by simulation:
        # thresholds of 2^width or 2^width-1 desync past the 9->10 bit
        # boundary)
        if next_code + early >= (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4096:
            # sent at width 12, which the decoder has reached too
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_pdf_text_lzw_stream_roundtrip():
    stream = b"BT (lzw era text) Tj ET"
    data = lzw_encode(stream)
    obj = (
        b"4 0 obj <</Length " + str(len(data)).encode()
        + b" /Filter /LZWDecode>>\nstream\n"
        + data + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj])) == "lzw era text"


def test_lzw_decoder_long_input_crosses_width_boundaries():
    from docling_api_spark.pipeline.textextract import _lzw_decode

    # enough distinct digrams to push the table past the 9->10->11 bit
    # boundaries, for both EarlyChange settings
    payload = bytes((i * 7 + (i >> 3)) & 0xFF for i in range(8192))
    for early in (1, 0):
        assert _lzw_decode(lzw_encode(payload, early), early) == payload


def test_lzw_decoder_is_linear_time():
    """256 KB of text decodes in well under 5 s (the decoder's bit buffer
    used to grow with the stream, making every shift O(n): ~15 s here).
    The input refills the table many times, so the round trip also
    checks that no code is lost at the 9->10->11->12-bit width changes
    or at the clears."""
    import random
    import time

    from docling_api_spark.pipeline.textextract import _lzw_decode

    rng = random.Random(1)
    vocab = [
        "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(2, 9)))
        for _ in range(2000)
    ]
    payload = " ".join(rng.choices(vocab, k=60_000)).encode()[: 256 * 1024]
    assert len(payload) == 256 * 1024
    for early in (1, 0):
        enc = lzw_encode(payload, early)
        t0 = time.perf_counter()
        dec = _lzw_decode(enc, early)
        elapsed = time.perf_counter() - t0
        assert dec == payload
        assert elapsed < 5.0, f"256 KB LZW decode took {elapsed:.1f} s"


def test_lzw_decoder_desync_returns_none_not_garbage():
    from docling_api_spark.pipeline.textextract import _lzw_decode

    # a code far beyond the table with no prior context must abort
    bad = bytes([0xFF, 0xFF, 0xFF, 0xFF])
    assert _lzw_decode(bad) is None


def test_lzw_decoder_canonical_boundary_fixture():
    """Hardcoded canonical-convention LZW stream (decoder bumps at
    next_code + early == 2^width, the xpdf/pdf.js/pdfminer/TIFF-6.0
    rule) whose table crosses the 9->10-bit boundary (>253 adds).
    Pinned as literal bytes so a future refactor that shifts BOTH the
    test encoder and the decoder by the same off-by-one cannot hide
    (ADVICE r12: the r11 round-trip tests passed only because encoder
    and decoder mirrored the same shifted rule)."""
    from docling_api_spark.pipeline.textextract import _lzw_decode

    payload = bytes((i * 11 + (i >> 4)) & 0xFF for i in range(600))
    enc = bytes.fromhex(
        "800001616108b06e4226960c66e3ca111e9a52ac578c769375d0f37f0242"
        "81f150d4804b2b188da7841a3932a457ae98ad06db99e2fc0384c3c291a0"
        "fc9455301acec814625d44ad5c3119eda72bc1f606088704e321e920a65e"
        "349d5008b4b28558b761335b0e3773e4080f0d098623c23948ba68399f91"
        "2944faa96ac065b5dc4ed7c00c1c19120bc74452816ccc713e221269e54a"
        "d17eca6ab81d6f6008302e22168e4884f2d194e07b4324538a7592f590d3"
        "6f3a9eb028241a110a8643936a6894522d188d4723c4c2bc8a4926944aa5"
        "92e7e82265349b4e2753c9f2b97342a251a914aa6538be6aa9552ad58ad5"
        "72bc100dd8ac966b45aad96e60b32e574bb5e2f57cbf1c8fb82c261b118a"
        "c6638462ec96532d98cd6733cd46fe8b4882a0e84a163c90a48356d6a2a8"
        "ba328d8541b082da36c92a4e94a566d9ce7937adfa6a9ba729d9184c146e"
        "3390a2a8ea4a961e8922a39ee8aaaabab2ad9dc7d00aec3b4b2aceb4ad64"
        "f9565b3c2f1aeabbaf2bd8a02e0cef53d8c2b0ec4b160081a0c3e6fab2ac"
        "bb32cd9645f192fe3fc81c00d38c6378f502c0e89c12d8028100570742091"
        "c24dc98a689b90bc3299c36e10ec4111b10444a1c48e584e1987d14c56a9"
        "c5aea1b0721df19468b1c6cee9124a9411dc7a71202"
    )
    assert _lzw_decode(enc, 1) == payload


# ---------------------------------------------------------------------------
# pdf table extraction (positional clusterer, r12 — VERDICT r11 Next #7)
# ---------------------------------------------------------------------------


def test_pdf_tm_positioned_table_renders_pipe_table():
    """Golden: a Tm-positioned 3x3 grid (header + 2 data rows) under a
    title line — the shape pdf generators emit for bordered tables —
    renders as a GFM pipe table through the shared renderer, with the
    title kept as prose above it."""
    stream = (
        b"BT 1 0 0 1 72 720 Tm (Quarterly Report) Tj ET\n"
        b"BT 1 0 0 1 72 690 Tm (region) Tj ET\n"
        b"BT 1 0 0 1 200 690 Tm (revenue) Tj ET\n"
        b"BT 1 0 0 1 320 690 Tm (orders) Tj ET\n"
        b"BT 1 0 0 1 72 672 Tm (EMEA) Tj ET\n"
        b"BT 1 0 0 1 200 672 Tm (1200) Tj ET\n"
        b"BT 1 0 0 1 320 672 Tm (34) Tj ET\n"
        b"BT 1 0 0 1 72 654 Tm (APAC) Tj ET\n"
        b"BT 1 0 0 1 200 654 Tm (980) Tj ET\n"
        b"BT 1 0 0 1 320 654 Tm (29) Tj ET\n"
    )
    assert pdf_to_markdown(make_pdf(stream)) == (
        "Quarterly Report\n"
        "| region | revenue | orders |\n"
        "|---|---|---|\n"
        "| EMEA | 1200 | 34 |\n"
        "| APAC | 980 | 29 |"
    )


def test_pdf_td_positioned_table_with_surrounding_prose():
    """Golden: a Td/T*-positioned 2-column table between two prose
    paragraphs — relative positioning (one BT block, TL leading) is the
    other common generator shape; prose above AND below survives as
    plain lines."""
    stream = (
        b"BT 1 0 0 1 72 720 Tm (Intro paragraph.) Tj ET\n"
        b"BT 18 TL 1 0 0 1 72 690 Tm (name) Tj "
        b"150 0 Td (count) Tj "
        b"-150 -18 Td (alpha) Tj "
        b"150 0 Td (7) Tj "
        b"-150 -18 Td (beta) Tj "
        b"150 0 Td (12) Tj ET\n"
        b"BT 1 0 0 1 72 600 Tm (Closing remark.) Tj ET\n"
    )
    assert pdf_to_markdown(make_pdf(stream)) == (
        "Intro paragraph.\n"
        "| name | count |\n"
        "|---|---|\n"
        "| alpha | 7 |\n"
        "| beta | 12 |\n"
        "Closing remark."
    )


def test_pdf_two_aligned_rows_do_not_claim_a_table():
    """Below _MIN_TABLE_ROWS (header + 2 data rows) the clusterer stays
    silent: two aligned rows are indistinguishable from a short
    two-column layout, so the legacy extraction renders them."""
    stream = (
        b"BT 1 0 0 1 72 690 Tm (left) Tj ET\n"
        b"BT 1 0 0 1 200 690 Tm (right) Tj ET\n"
        b"BT 1 0 0 1 72 672 Tm (l2) Tj ET\n"
        b"BT 1 0 0 1 200 672 Tm (r2) Tj ET\n"
    )
    out = pdf_to_markdown(make_pdf(stream))
    assert "|" not in out
    assert out == "left\nright\nl2\nr2"


def test_pdf_rotated_text_matrix_disables_table_detection():
    """A rotated Tm (b/c != 0) disqualifies the stream from positional
    clustering — output falls back to the legacy extraction rather than
    emitting a garbage grid from rotated coordinates."""
    rot = b"0 1 -1 0 "  # 90-degree rotation
    stream = b"".join(
        b"BT " + rot + (b"%d %d Tm (c%d) Tj ET\n" % (x, y, i))
        for i, (x, y) in enumerate(
            [(72, 690), (200, 690), (300, 690),
             (72, 672), (200, 672), (300, 672),
             (72, 654), (200, 654), (300, 654)]
        )
    )
    out = pdf_to_markdown(make_pdf(stream))
    assert "|" not in out
    assert [ln for ln in out.splitlines()] == [f"c{i}" for i in range(9)]


def test_pdf_scaled_tm_scales_td_offsets():
    """r12 advisor: after a scaled Tm (a/d != 1), Td/TD/TL operands are
    in unscaled text space and must be multiplied by the matrix scale.
    Here the header row is laid out with '2 0 0 2 ... Tm' + '64 0 Td'
    (device x = 72 + 64*2 = 200); unscaled accumulation would put the
    second header cell at x=136, break the column signature, and lose
    the table."""
    stream = (
        b"BT 2 0 0 2 72 690 Tm (region) Tj 64 0 Td (revenue) Tj ET\n"
        b"BT 1 0 0 1 72 672 Tm (EMEA) Tj ET\n"
        b"BT 1 0 0 1 200 672 Tm (1200) Tj ET\n"
        b"BT 1 0 0 1 72 654 Tm (APAC) Tj ET\n"
        b"BT 1 0 0 1 200 654 Tm (980) Tj ET\n"
    )
    assert pdf_to_markdown(make_pdf(stream)) == (
        "| region | revenue |\n"
        "|---|---|\n"
        "| EMEA | 1200 |\n"
        "| APAC | 980 |"
    )


def test_pdf_scaled_tm_scales_leading():
    """T* and the '/\" show forms move by TL *through the matrix scale*:
    with '2 0 0 2' and '9 TL', each T* drops device y by 18 — the rows
    land exactly on the absolutely-positioned second column."""
    stream = (
        b"BT 1 0 0 1 72 720 Tm (Intro paragraph.) Tj ET\n"
        b"BT 9 TL 2 0 0 2 72 690 Tm (name) Tj T* (alpha) Tj T* (beta) Tj ET\n"
        b"BT 1 0 0 1 200 690 Tm (count) Tj ET\n"
        b"BT 1 0 0 1 200 672 Tm (7) Tj ET\n"
        b"BT 1 0 0 1 200 654 Tm (12) Tj ET\n"
        b"BT 1 0 0 1 72 600 Tm (Closing remark.) Tj ET\n"
    )
    assert pdf_to_markdown(make_pdf(stream)) == (
        "Intro paragraph.\n"
        "| name | count |\n"
        "|---|---|\n"
        "| alpha | 7 |\n"
        "| beta | 12 |\n"
        "Closing remark."
    )


def test_pdf_degenerate_tm_scale_disables_table_detection():
    """A zero scale component collapses the text space — bail to the
    legacy linear extraction instead of clustering collapsed spans."""
    stream = b"".join(
        b"BT 0 0 0 1 %d %d Tm (z%d) Tj ET\n" % (x, y, i)
        for i, (x, y) in enumerate(
            [(72, 690), (200, 690), (72, 672), (200, 672),
             (72, 654), (200, 654)]
        )
    )
    out = pdf_to_markdown(make_pdf(stream))
    assert "|" not in out
    assert out.splitlines() == [f"z{i}" for i in range(6)]


def test_pdf_ragged_rows_break_the_run():
    """A row with a different cell count ends the aligned run: three
    aligned 2-cell rows table-ify, the trailing 1-cell row stays prose."""
    stream = (
        b"BT 1 0 0 1 72 690 Tm (k) Tj ET\n"
        b"BT 1 0 0 1 200 690 Tm (v) Tj ET\n"
        b"BT 1 0 0 1 72 672 Tm (a) Tj ET\n"
        b"BT 1 0 0 1 200 672 Tm (1) Tj ET\n"
        b"BT 1 0 0 1 72 654 Tm (b) Tj ET\n"
        b"BT 1 0 0 1 200 654 Tm (2) Tj ET\n"
        b"BT 1 0 0 1 72 636 Tm (footnote) Tj ET\n"
    )
    assert pdf_to_markdown(make_pdf(stream)) == (
        "| k | v |\n"
        "|---|---|\n"
        "| a | 1 |\n"
        "| b | 2 |\n"
        "footnote"
    )


def test_pdf_random_grid_roundtrip_property():
    """Property: any r x c grid (r >= 3, c >= 2) of alphanumeric cells
    laid out at exact column x-positions round-trips through the
    clusterer as exactly that grid — cells in order, no row lost."""
    import random

    rng = random.Random(12)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    for trial in range(25):
        r = rng.randint(3, 6)
        c = rng.randint(2, 5)
        grid = [
            [
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
                for _ in range(c)
            ]
            for _ in range(r)
        ]
        xs = [72 + 110 * k for k in range(c)]
        stream = b"".join(
            b"BT 1 0 0 1 %d %d Tm (%s) Tj ET\n"
            % (xs[k], 720 - 18 * i, cell.encode())
            for i, row in enumerate(grid)
            for k, cell in enumerate(row)
        )
        from docling_api_spark.pipeline.textextract import rows_to_pipe_table

        assert pdf_to_markdown(make_pdf(stream)) == "\n".join(
            rows_to_pipe_table(grid)
        ), f"trial {trial}: grid {r}x{c} did not round-trip"


def test_pdf_prose_at_random_positions_never_tables():
    """Property: single-span lines (one cell per y) never produce a
    pipe table regardless of positioning style — the clusterer requires
    >= 2 aligned columns."""
    import random

    rng = random.Random(7)
    for _ in range(25):
        n = rng.randint(1, 12)
        stream = b"".join(
            b"BT 1 0 0 1 %d %d Tm (line%d) Tj ET\n"
            % (rng.randint(30, 90), 720 - 15 * i, i)
            for i in range(n)
        )
        out = pdf_to_markdown(make_pdf(stream))
        assert "|" not in out
        assert out.splitlines() == [f"line{i}" for i in range(n)]


def test_positioned_spans_quote_ops_and_stale_operands():
    """Edge cases of the positioning replay: ' and \" advance the line
    by the leading BEFORE showing; operands of untracked operators (Tf,
    Tc) must not corrupt the next Td (PDF operand syntax is postfix, so
    the real operands always sit last on the stack)."""
    from docling_api_spark.pipeline.textextract import (
        _extract_positioned_spans,
    )

    stream = (
        b"BT /F1 9 Tf 0.5 Tc 14 TL 1 0 0 1 72 700 Tm (a) Tj "
        b"(b) ' 2 3 (c) \" ET"
    )
    spans = _extract_positioned_spans(stream)
    # (a) at 700; ' drops one leading -> (b) at 686; " drops another -> 672
    assert [(round(y), round(x), t) for y, x, t in spans] == [
        (700, 72, "a"), (686, 72, "b"), (672, 72, "c")
    ]


def test_positioned_spans_unmoved_shows_merge_into_one_cell():
    from docling_api_spark.pipeline.textextract import (
        _extract_positioned_spans,
    )

    stream = b"BT 1 0 0 1 72 700 Tm (he) Tj (llo) Tj 100 0 Td (x) Tj ET"
    spans = _extract_positioned_spans(stream)
    assert [(round(y), round(x), t) for y, x, t in spans] == [
        (700, 72, "hello"), (700, 172, "x")
    ]


def test_pdf_span_budget_falls_back_to_linear_extraction():
    """An adversarial stream with more positioned spans than
    _MAX_TABLE_SPANS must fall back to the legacy linear extraction
    (the clusterer is O(spans x rows) — r12 self-review) instead of
    hanging the conversion task. Output still extracts, just without
    table detection."""
    from docling_api_spark.pipeline import textextract as tx

    n = tx._MAX_TABLE_SPANS + 10
    stream = b"".join(
        b"BT 1 0 0 1 %d %d Tm (s%d) Tj ET\n" % (72 + (i % 7), i, i)
        for i in range(n)
    )
    out = tx.pdf_to_markdown(make_pdf(stream))
    assert "|" not in out
    assert out.count("\n") == n - 1  # every span survives as a line


def test_pdf_table_through_converter_counts_as_content():
    from docling_api_spark.pipeline.convert import LightweightConverter

    stream = (
        b"BT 1 0 0 1 72 690 Tm (h1) Tj ET\n"
        b"BT 1 0 0 1 200 690 Tm (h2) Tj ET\n"
        b"BT 1 0 0 1 72 672 Tm (x) Tj ET\n"
        b"BT 1 0 0 1 200 672 Tm (y) Tj ET\n"
        b"BT 1 0 0 1 72 654 Tm (z) Tj ET\n"
        b"BT 1 0 0 1 200 654 Tm (w) Tj ET\n"
    )
    r = LightweightConverter().convert("tables.pdf", make_pdf(stream))
    assert r["error"] is None
    assert r["markdown"].splitlines()[0] == "| h1 | h2 |"


def test_pdf_text_runlength_stream():
    from docling_api_spark.pipeline.textextract import _runlength_decode

    stream = b"BT (rle) Tj ET"
    # encode: all-literal runs of <=128 bytes + EOD
    data = bytes([len(stream) - 1]) + stream + b"\x80"
    assert _runlength_decode(data) == stream
    # repeat run: 257-254=3 copies of 'x'
    assert _runlength_decode(b"\xfex\x80") == b"xxx"
    obj = (
        b"4 0 obj <</Length " + str(len(data)).encode()
        + b" /Filter /RunLengthDecode>>\nstream\n"
        + data + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj])) == "rle"


def test_lzw_spec_worked_example_vector():
    """TIFF 6.0 §13's worked LZW example (input 7,7,7,8,8,7,7,6,6 →
    codes 256,7,258,8,8,258,6,6,257), hardcoded as a 9-bit bitstream so
    a future width-alignment refactor cannot silently shift decoding."""
    from docling_api_spark.pipeline.textextract import _lzw_decode

    assert _lzw_decode(bytes.fromhex("8001e0408044080c068080")) == bytes(
        [7, 7, 7, 8, 8, 7, 7, 6, 6]
    )


# ---------------------------------------------------------------------------
# docx hyperlinks and numbering fidelity
# ---------------------------------------------------------------------------

def test_docx_hyperlink_renders_as_markdown_link():
    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS} {R_NS}><w:body>
      <w:p><w:r><w:t>see </w:t></w:r>
        <w:hyperlink r:id="rId9"><w:r><w:t>the docs</w:t></w:r></w:hyperlink>
        <w:r><w:t> here</w:t></w:r></w:p>
      <w:p><w:hyperlink w:anchor="sec1"><w:r><w:t>internal</w:t></w:r></w:hyperlink></w:p>
    </w:body></w:document>"""
    rels = f"""<?xml version="1.0"?>
    <Relationships {RELS_NS}>
      <Relationship Id="rId9" Type="x/hyperlink"
        Target="https://example.com/docs" TargetMode="External"/>
    </Relationships>"""
    docx = make_docx_with_media(xml, rels, {})
    md = docx_to_markdown(docx)
    # external link becomes [text](url); an internal anchor (no external
    # rel) stays plain text
    assert md.splitlines() == [
        "see [the docs](https://example.com/docs) here",
        "internal",
    ]


def test_docx_numbered_vs_bullet_lists_via_numbering_xml():
    numbering = f"""<?xml version="1.0"?>
    <w:numbering {W_NS}>
      <w:abstractNum w:abstractNumId="0">
        <w:lvl w:ilvl="0"><w:numFmt w:val="decimal"/></w:lvl>
        <w:lvl w:ilvl="1"><w:numFmt w:val="bullet"/></w:lvl>
      </w:abstractNum>
      <w:num w:numId="5"><w:abstractNumId w:val="0"/></w:num>
    </w:numbering>"""
    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS}><w:body>
      <w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="5"/></w:numPr></w:pPr>
        <w:r><w:t>first</w:t></w:r></w:p>
      <w:p><w:pPr><w:numPr><w:ilvl w:val="1"/><w:numId w:val="5"/></w:numPr></w:pPr>
        <w:r><w:t>nested bullet</w:t></w:r></w:p>
      <w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="5"/></w:numPr></w:pPr>
        <w:r><w:t>second</w:t></w:r></w:p>
    </w:body></w:document>"""
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", xml)
        zf.writestr("word/numbering.xml", numbering)
    md = docx_to_markdown(buf.getvalue())
    # 3-space nesting: CommonMark only nests a child that reaches the
    # parent's content column (3 for a "1. " parent — 2 spaces would
    # start a sibling list and orphan the items)
    assert md.splitlines() == [
        "1. first",
        "   - nested bullet",
        "1. second",
    ]


def test_docx_numpr_without_numbering_xml_keeps_dash_fallback():
    # DOCX_XML's list item has numPr but the package ships no
    # numbering.xml — the long-standing "- " rendering must not change
    md = docx_to_markdown(make_docx(DOCX_XML))
    assert "- first item" in md.splitlines()


# ---------------------------------------------------------------------------
# second review pass regressions
# ---------------------------------------------------------------------------

def test_pdf_text_mentioning_bfchar_syntax_keeps_its_text_layer():
    """A content stream whose VISIBLE TEXT contains 'beginbfchar' (a spec
    excerpt, font-tooling docs) must not be misclassified as a CMap and
    lose its text."""
    stream = (
        b"BT (the beginbfchar operator starts a block) Tj T* "
        b"(second line) Tj ET"
    )
    assert pdf_to_markdown(make_pdf(stream)).splitlines() == [
        "the beginbfchar operator starts a block",
        "second line",
    ]


def test_pdf_rle_and_lzw_streams_survive_the_spec_eol():
    """The EOL the writer puts before `endstream` must not reach the
    bit/byte-exact decoders: as an RLE length byte it rejects the whole
    stream; as LZW bits it appends spurious codes."""
    body = b"BT (rle1) Tj ET"
    rle = bytes([len(body) - 1]) + body  # one literal run, NO EOD marker
    obj_rle = (
        b"4 0 obj <</Length " + str(len(rle)).encode()
        + b" /Filter /RunLengthDecode>>\nstream\n"
        + rle + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj_rle])) == "rle1"
    lzw = lzw_encode(b"BT (lzw1) Tj ET")
    # strip the EOD code's byte(s) is fiddly; instead assert the normal
    # EOD-terminated stream still round-trips WITH the spec EOL present
    obj_lzw = (
        b"4 0 obj <</Length " + str(len(lzw)).encode()
        + b" /Filter /LZWDecode>>\nstream\n"
        + lzw + b"\nendstream endobj"
    )
    assert pdf_to_markdown(make_pdf_objs([obj_lzw])) == "lzw1"


def test_docx_hyperlink_with_parens_in_url_and_bracket_in_text():
    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS} {R_NS}><w:body>
      <w:p><w:hyperlink r:id="rId9"><w:r><w:t>Foo [bar]</w:t></w:r></w:hyperlink></w:p>
    </w:body></w:document>"""
    rels = f"""<?xml version="1.0"?>
    <Relationships {RELS_NS}>
      <Relationship Id="rId9" Type="x/hyperlink"
        Target="https://en.wikipedia.org/wiki/Foo_(bar)" TargetMode="External"/>
    </Relationships>"""
    md = docx_to_markdown(make_docx_with_media(xml, rels, {}))
    # '[' must escape too: an inner '[' re-anchors CommonMark's
    # link-text match and would leak '[Foo ' as literal text
    assert md == (
        "[Foo \\[bar\\]](https://en.wikipedia.org/wiki/Foo_%28bar%29)"
    )


def test_pptx_run_hyperlink_renders_as_markdown_link():
    slide = f"""<?xml version="1.0"?>
    <p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
           {A_NS} {R_NS}>
      <p:cSld><p:spTree>
        <p:sp><p:txBody>
          <a:p><a:r><a:t>visit </a:t></a:r>
            <a:r><a:rPr><a:hlinkClick r:id="rId3"/></a:rPr>
              <a:t>our site</a:t></a:r></a:p>
        </p:txBody></p:sp>
      </p:spTree></p:cSld>
    </p:sld>"""
    rels = f"""<?xml version="1.0"?>
    <Relationships {RELS_NS}>
      <Relationship Id="rId3" Type="x/hyperlink"
        Target="https://example.com" TargetMode="External"/>
    </Relationships>"""
    md = pptx_to_markdown(make_pptx_with_media([(slide, rels)]))
    assert md.splitlines() == [
        "## Slide 1",
        "visit [our site](https://example.com)",
    ]


def test_docx_table_cell_image_surfaces_after_table():
    xml = f"""<?xml version="1.0"?>
    <w:document {W_NS} {A_NS} {R_NS}><w:body>
      <w:p><w:pPr><w:pStyle w:val="Title"/></w:pPr>
        <w:r><w:t>Doc Title</w:t></w:r></w:p>
      <w:tbl>
        <w:tr><w:tc><w:p><w:r><w:t>cell</w:t></w:r>
          <w:r><w:drawing><a:blip r:embed="rId7"/></w:drawing></w:r></w:p></w:tc></w:tr>
      </w:tbl>
      <w:p><w:r><w:t>after</w:t></w:r></w:p>
    </w:body></w:document>"""
    docx = make_docx_with_media(
        xml, DOCX_IMG_RELS, {"word/media/image1.png": PNG_A}
    )
    from docling_api_spark.pipeline.convert import LightweightConverter

    r = LightweightConverter().convert("t.docx", docx)
    # Title style maps to h1; the cell picture cannot live inside a pipe
    # cell, so its name follows the table
    assert r["markdown"] == (
        "# Doc Title\n| cell |\n|---|\npicture-1.png\nafter"
    )
    assert [i["image"] for i in r["images"]] == [PNG_A]


# ---------------------------------------------------------------------------
# asciidoc structural conversion
# ---------------------------------------------------------------------------

def test_asciidoc_headings_lists_blocks():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = "\n".join(
        [
            "= Document Title",
            "",
            "== Section",
            "plain prose stays put.",
            "// a comment line disappears",
            "* item one",
            "** nested",
            ". first",
            ".. sub",
            "[source,python]",
            "----",
            "x = 1  # verbatim, even * bullets",
            "----",
            "....",
            "literal block",
            "....",
        ]
    )
    assert asciidoc_to_markdown(adoc).splitlines() == [
        "# Document Title",
        "",
        "## Section",
        "plain prose stays put.",
        "- item one",
        "   - nested",
        "1. first",
        "   1. sub",
        "```python",
        "x = 1  # verbatim, even * bullets",
        "```",
        "```",
        "literal block",
        "```",
    ]


# ---------------------------------------------------------------------------
# html structural conversion (r12)
# ---------------------------------------------------------------------------


def test_html_structural_golden():
    """Headings, lists, tables (shared renderer), links, pre blocks,
    img alt, script/style/comment stripping — the structure docling's
    html backend produces, stdlib-only."""
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = (
        b"<!doctype html><html><head><style>p{}</style>"
        b"<script>var x=1;</script></head><body>"
        b"<h1>Title</h1><p>Intro &amp; more.</p>"
        b"<ul><li>one</li><li>two<ol><li>sub</li></ol></li></ul>"
        b"<table><tr><th>k</th><th>v</th></tr>"
        b"<tr><td>a</td><td>1</td></tr></table>"
        b"<p>see <a href='http://x'>the link</a>.</p>"
        b"<pre>code line\n  indented</pre>"
        b"<p><img src='i.png' alt='a figure'> tail</p>"
        b"<!-- comment --></body></html>"
    )
    assert html_to_markdown(html).splitlines() == [
        "# Title",
        "Intro & more.",
        "- one",
        "- two",
        "   1. sub",
        "| k | v |",
        "|---|---|",
        "| a | 1 |",
        "see [the link](http://x).",
        "```",
        "code line",
        "  indented",
        "```",
        "a figure tail",
    ]


def test_html_corpus_shape_unchanged():
    # the q72 corpus closed form: <p>text</p> comes out as exactly text
    from docling_api_spark.pipeline.textextract import html_to_markdown

    assert html_to_markdown(
        b"<!doctype html><html><body><p>plain corpus text</p></body></html>"
    ) == "plain corpus text"


def test_html_nested_table_flattens_into_outer_cell():
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = (
        b"<table><tr><td>outer</td><td>"
        b"<table><tr><td>in1</td><td>in2</td></tr></table>"
        b"</td></tr><tr><td>x</td><td>y</td></tr></table>"
    )
    assert html_to_markdown(html).splitlines() == [
        "| outer | in1 in2 |",
        "|---|---|",
        "| x | y |",
    ]


def test_html_block_tags_inside_cells_stay_in_the_cell():
    """r12 self-review: <p>/<br>/heading tags INSIDE a td must collapse
    into the cell's text, not flush it out of the table."""
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = (
        b"<table><tr><td><p>first</p><p>second</p></td>"
        b"<td>a<br>b</td></tr>"
        b"<tr><td>x</td><td>y</td></tr></table>"
    )
    assert html_to_markdown(html).splitlines() == [
        "| first second | a b |",
        "|---|---|",
        "| x | y |",
    ]


def test_html_malformed_is_total():
    from docling_api_spark.pipeline.textextract import html_to_markdown

    for junk in (
        b"<table><tr><td>unclosed",
        b"</td></tr></table>stray closers",
        b"<a href='x'>never closed",
        b"<<<>>><p>&bogus; &#xZZ;</p>",
        b"\xff\xfe binary soup <h1>h",
        b"<table><td>cell without tr</td></table>",
        b"<table><tr><td colspan='zzz'>bad span</td></tr>"
        b"<tr><td>x</td></tr></table>",
    ):
        out = html_to_markdown(junk)
        assert isinstance(out, str)


def test_html_unterminated_table_still_renders_rows():
    from docling_api_spark.pipeline.textextract import html_to_markdown

    out = html_to_markdown(
        b"<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d"
    )
    assert out.splitlines() == ["| a | b |", "|---|---|", "| c | d |"]


def test_html_colspan_pads_columns():
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = (
        b"<table><tr><th colspan=2>merged</th><th>c</th></tr>"
        b"<tr><td>1</td><td>2</td><td>3</td></tr></table>"
    )
    assert html_to_markdown(html).splitlines() == [
        "| merged |  | c |",
        "|---|---|---|",
        "| 1 | 2 | 3 |",
    ]


def test_html_omitted_tr_end_tags_keep_all_rows():
    """r12 advisor: </tr> is optional in HTML5 — a following <tr> must
    close the open row instead of overwriting it. Before the fix this
    markup rendered only '| e | f |'."""
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = b"<table><tr><td>a<td>b<tr><td>c<td>d<tr><td>e<td>f</table>"
    assert html_to_markdown(html).splitlines() == [
        "| a | b |",
        "|---|---|",
        "| c | d |",
        "| e | f |",
    ]


def test_pipe_in_cell_text_is_escaped():
    """r12 advisor: a literal '|' inside cell data must not split the
    cell into extra columns — the shared renderer escapes it, so every
    format (csv/html/adoc/docx/pdf tables) inherits the fix."""
    from docling_api_spark.pipeline.textextract import (
        html_to_markdown,
        rows_to_pipe_table,
    )

    assert rows_to_pipe_table([["a|b", "c"], ["d", "e||f"]]) == [
        "| a\\|b | c |",
        "|---|---|",
        "| d | e\\|\\|f |",
    ]
    html = b"<table><tr><td>pipe | cell</td><td>plain</td></tr>" \
           b"<tr><td>x</td><td>y</td></tr></table>"
    assert html_to_markdown(html).splitlines() == [
        "| pipe \\| cell | plain |",
        "|---|---|",
        "| x | y |",
    ]


def test_docx_gridspan_pads_columns():
    """Horizontally merged docx cells (w:gridSpan) pad so later rows'
    columns stay aligned — docling renders the same shape."""
    from docling_api_spark.pipeline.textextract import docx_to_markdown

    doc = (
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body><w:tbl>'
        "<w:tr><w:tc><w:tcPr><w:gridSpan w:val='2'/></w:tcPr>"
        "<w:p><w:r><w:t>merged</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>c</w:t></w:r></w:p></w:tc></w:tr>"
        "<w:tr><w:tc><w:p><w:r><w:t>1</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>2</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>3</w:t></w:r></w:p></w:tc></w:tr>"
        "</w:tbl></w:body></w:document>"
    )
    payload = make_docx(doc)
    assert docx_to_markdown(payload).splitlines() == [
        "| merged |  | c |",
        "|---|---|---|",
        "| 1 | 2 | 3 |",
    ]


def test_asciidoc_table_block_renders_pipe_table():
    """`|===` tables (header-line style and one-cell-per-line style,
    multi-line cells, escaped pipes) render through the shared pipe
    renderer — the reference's docling asciidoc backend parses these;
    pass-through verbatim was the r12 gap."""
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = (
        "before\n"
        "|===\n"
        "|name |count\n"
        "\n"
        "|alpha\n"
        "|7\n"
        "\n"
        "|pipe \\| cell\n"
        "|still\n"
        "continues\n"
        "|===\n"
        "after"
    )
    assert asciidoc_to_markdown(adoc).splitlines() == [
        "before",
        "| name | count |",
        "|---|---|",
        "| alpha | 7 |",
        "| pipe \\| cell | still continues |",
        "after",
    ]


def test_asciidoc_csv_table_block():
    """`,===` CSV tables: rows are csv records, quoted commas honored."""
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = ',===\nname,count\nalpha,7\n"a, with comma",8\n,===\ntail'
    assert asciidoc_to_markdown(adoc).splitlines() == [
        "| name | count |",
        "|---|---|",
        "| alpha | 7 |",
        "| a, with comma | 8 |",
        "tail",
    ]


def test_asciidoc_cols_attribute_sets_width_and_is_prose_otherwise():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = '[cols="3*"]\n|===\n|a\n|b\n|c\n|d\n|e\n|f\n|===\n'
    assert asciidoc_to_markdown(adoc) == (
        "| a | b | c |\n|---|---|---|\n| d | e | f |\n"
    )
    # a [cols=...] line NOT followed by a table is prose: verbatim
    prose = 'see [cols="1,2"] for syntax\n[cols="1,2"]\nnot a table'
    assert asciidoc_to_markdown(prose) == prose


def test_asciidoc_plain_text_passes_through_byte_identical():
    # the q72 corpus .adoc members are plain [a-z ]+ lines; the oracle's
    # markdown_len == n_chars closed form requires identity here
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    text = "plain lowercase words only with single spaces"
    assert asciidoc_to_markdown(text) == text


def test_asciidoc_unterminated_block_fence_closed():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    assert asciidoc_to_markdown("----\ncode").splitlines() == [
        "```", "code", "```",
    ]


def test_converter_adoc_routes_through_structural_conversion():
    from docling_api_spark.pipeline.convert import LightweightConverter

    r = LightweightConverter().convert(
        "notes.adoc", b"= Title\n\n* point"
    )
    assert r["error"] is None
    assert r["markdown"] == "# Title\n\n- point"


# ---------------------------------------------------------------------------
# third review pass regressions
# ---------------------------------------------------------------------------

def test_asciidoc_comment_block_content_dropped():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = "////\nhidden comment\n* secret bullet\n////\nvisible"
    assert asciidoc_to_markdown(adoc) == "visible"


def test_asciidoc_block_closes_only_on_its_own_delimiter():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = "----\ncode line\n....\n* still code\n----"
    assert asciidoc_to_markdown(adoc).splitlines() == [
        "```", "code line", "....", "* still code", "```",
    ]


def test_asciidoc_preserves_trailing_newline_and_crlf():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    # document-level byte identity for plain text: trailing newline and
    # CRLF endings survive (the q72 closed form's contract)
    assert asciidoc_to_markdown("plain line\n") == "plain line\n"
    assert asciidoc_to_markdown("a\r\nb\r\n") == "a\r\nb\r\n"


def test_md_link_escapes_backslash_and_open_bracket():
    from docling_api_spark.pipeline.textextract import _md_link

    assert _md_link("ends with \\", "https://e.com") == (
        "[ends with \\\\](https://e.com)"
    )
    assert _md_link("Foo [bar", "https://e.com") == (
        "[Foo \\[bar](https://e.com)"
    )


def test_pptx_table_cell_hyperlink_keeps_url():
    slide = f"""<?xml version="1.0"?>
    <p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
           {A_NS} {R_NS}>
      <p:cSld><p:spTree>
        <p:graphicFrame><a:graphic><a:graphicData><a:tbl>
          <a:tr><a:tc><a:txBody>
            <a:p><a:r><a:rPr><a:hlinkClick r:id="rId3"/></a:rPr>
              <a:t>linked cell</a:t></a:r></a:p>
          </a:txBody></a:tc></a:tr>
        </a:tbl></a:graphicData></a:graphic></p:graphicFrame>
      </p:spTree></p:cSld>
    </p:sld>"""
    rels = f"""<?xml version="1.0"?>
    <Relationships {RELS_NS}>
      <Relationship Id="rId3" Type="x/hyperlink"
        Target="https://example.com" TargetMode="External"/>
    </Relationships>"""
    md = pptx_to_markdown(make_pptx_with_media([(slide, rels)]))
    assert "| [linked cell](https://example.com) |" in md.splitlines()


def test_asciidoc_prose_brackets_starting_with_source_pass_through():
    """'[sources]' and '[source code example]' are prose, not the
    [source,lang] attribute form — they must pass through verbatim
    (the q72 closed form depends on pass-through byte identity)."""
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    assert asciidoc_to_markdown("[sources]\ntext") == "[sources]\ntext"
    assert asciidoc_to_markdown("[source code example]") == (
        "[source code example]"
    )
    # the real attribute forms still fence
    assert asciidoc_to_markdown("[source]\n----\nx\n----").splitlines() == [
        "```", "x", "```",
    ]
    assert asciidoc_to_markdown(
        "[source, python, linenums]\n----\nx\n----"
    ).splitlines() == ["```python", "x", "```"]


def test_asciidoc_comment_between_source_attr_and_block_keeps_lang():
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    adoc = "[source,js]\n// note\n----\nx\n----"
    assert asciidoc_to_markdown(adoc).splitlines() == ["```js", "x", "```"]


# ---------------------------------------------------------------------------
# undecodable image-stream breadcrumbs (VERDICT r12 Next #8)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "codec", ["CCITTFaxDecode", "JBIG2Decode", "JPXDecode", "Crypt"]
)
def test_pdf_undecodable_image_stream_counted_per_codec(codec):
    """Each exotic-codec image stream is COUNTED (so the conversion layer
    can leave a breadcrumb) while extraction still skips it silently —
    correct-by-omission, never mis-rendered."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    # the whole CCITT family decodes since r14; only an indirect
    # /DecodeParms ref (parms unreadable) keeps the CCITT breadcrumb
    parms = b" /DecodeParms 9 0 R" if codec == "CCITTFaxDecode" else b""
    pdf = make_pdf_objs(
        [
            b"1 0 obj <</Subtype /Image /Width 8 /Height 8 /Filter /"
            + codec.encode() + parms
            + b" /Length 4>>\nstream\n\x00\x01\x02\x03\nendstream endobj",
        ]
    )
    assert pdf_undecodable_image_streams(pdf) == {codec: 1}
    assert pdf_extract_images(pdf) == []


def test_pdf_undecodable_counter_chain_array_and_supported():
    """Array-form /Filter chains count by their first unsupported codec;
    fully supported chains and non-image streams count nothing."""
    from docling_api_spark.pipeline.textextract import (
        pdf_undecodable_image_streams,
    )

    pdf = make_pdf_objs(
        [
            # a85 -> CCITT chain with unreadable (indirect) parms:
            # unsupported at the CCITT link
            b"1 0 obj <</Subtype /Image /Width 4 /Height 4 "
            b"/Filter [/ASCII85Decode /CCITTFaxDecode] "
            b"/DecodeParms 9 0 R /Length 4>>\n"
            b"stream\nabcd\nendstream endobj",
            # second such CCITT stream aggregates into the same key
            b"2 0 obj <</Subtype /Image /Width 4 /Height 4 "
            b"/Filter /CCITTFaxDecode /DecodeParms 9 0 R /Length 4>>\n"
            b"stream\nabcd\nendstream endobj",
            # supported chain: not counted
            b"3 0 obj <</Subtype /Image /Width 4 /Height 4 "
            b"/Filter /FlateDecode /Length 4>>\n"
            b"stream\nabcd\nendstream endobj",
            # unsupported codec on a NON-image stream: not counted
            b"4 0 obj <</Filter /JBIG2Decode /Length 4>>\n"
            b"stream\nabcd\nendstream endobj",
        ]
    )
    assert pdf_undecodable_image_streams(pdf) == {"CCITTFaxDecode": 2}


def test_pdf_skipped_codec_breadcrumb_in_error_row():
    """An image-only PDF whose single scan is fax-compressed fails with
    the OCR-backend error AND names the skipped codec — the user
    debugging a missing scan gets the breadcrumb (VERDICT r12 Next #8)."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    pdf = make_pdf_objs(
        [
            b"1 0 obj <</Subtype /Image /Width 8 /Height 8 "
            b"/Filter /CCITTFaxDecode /DecodeParms 9 0 R /Length 4>>\n"
            b"stream\n\x00\x01\x02\x03\nendstream endobj",
        ]
    )
    res = LightweightConverter().convert("scan.pdf", pdf)
    assert res["markdown"] is None
    assert "docling OCR backend" in res["error"]
    assert "1 undecodable image stream(s) (codec CCITTFaxDecode)" in res["error"]


def test_pdf_skipped_codec_note_on_success_row():
    """A PDF with a real text layer plus an undecodable JPX image still
    converts; the skip surfaces as a placeholder-style comment appended
    to the markdown instead of silently omitting the image."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    pdf = make_pdf_objs(
        [
            b"1 0 obj <</Length 40>>\nstream\n"
            b"BT 1 0 0 1 72 720 Tm (hello world) Tj ET\nendstream endobj",
            b"2 0 obj <</Subtype /Image /Width 8 /Height 8 "
            b"/Filter /JPXDecode /Length 4>>\n"
            b"stream\n\x00\x01\x02\x03\nendstream endobj",
        ]
    )
    res = LightweightConverter().convert("doc.pdf", pdf)
    assert res["error"] is None
    assert res["markdown"].startswith("hello world")
    assert res["markdown"].endswith(
        "<!-- 1 undecodable image stream(s) (codec JPXDecode) -->"
    )


def test_pdf_without_exotic_codecs_has_no_breadcrumb():
    """The graded corpus shape: no exotic codecs -> byte-identical output
    and error strings (q72's closed-form oracle depends on this)."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    res = LightweightConverter().convert(
        "doc.pdf", make_pdf(b"BT 1 0 0 1 72 720 Tm (plain text) Tj ET")
    )
    assert res["error"] is None and res["markdown"] == "plain text"
    empty = LightweightConverter().convert("scan.pdf", make_pdf(b""))
    assert empty["error"] == (
        "No extractable text layer in 'pdf' document "
        "(scanned/image-only input needs the docling OCR backend)"
    )


# -- r13 inline images (BI..ID..EI in content streams) ----------------------
def _content_obj(stream: bytes, num: int = 4) -> bytes:
    return (
        b"%d 0 obj <</Length %d>>\nstream\n" % (num, len(stream))
        + stream
        + b"\nendstream endobj"
    )


def test_pdf_inline_image_flate_rgb_extracted():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes(range(2 * 2 * 3))
    stream = (
        b"BT (before) Tj ET\n"
        b"BI /W 2 /H 2 /CS /RGB /BPC 8 /F /Fl ID "
        + zlib.compress(pixels)
        + b" EI\nBT (after) Tj ET"
    )
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(stream)]))
    assert decode_png(png) == (2, 2, 3, pixels)


def test_pdf_inline_image_unfiltered_gray_exact_framing():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    gray = bytes([1, 2, 3, 4, 5, 6])
    stream = b"BI /W 3 /H 2 /CS /G /BPC 8 ID " + gray + b" EI"
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(stream)]))
    assert decode_png(png) == (3, 2, 1, gray)


def test_pdf_inline_image_1bit_through_shared_recovery():
    """Inline rasters route through the SAME _raster_to_png geometry
    checks as XObjects — sub-8-bit recovery included."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    stream = b"BI /W 8 /H 1 /CS /G /BPC 1 ID " + bytes([0b10100101]) + b" EI"
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(stream)]))
    assert decode_png(png) == (
        8, 1, 1, bytes(255 * b for b in [1, 0, 1, 0, 0, 1, 0, 1])
    )


def test_pdf_inline_image_dct_passthrough_and_order():
    """Inline DCT is the JPEG file (SOI..EOI framing); extraction order
    follows document order across XObject and inline forms."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    gray = bytes([9, 8, 7, 6])
    stream = b"BI /W 2 /H 2 /F /DCT ID " + JPEG_BYTES + b" EI"
    pdf = make_pdf_objs(
        [
            _content_obj(stream),
            make_image_obj(
                zlib.compress(gray), width=2, height=2,
                colorspace=b"/DeviceGray",
            ),
        ]
    )
    jpg, png = pdf_extract_images(pdf)
    assert jpg == JPEG_BYTES
    assert decode_png(png) == (2, 2, 1, gray)


def test_pdf_inline_image_in_flate_content_stream():
    """The common real-world shape: the CONTENT stream itself is
    Flate-compressed, the inline image sits inside the decoded bytes."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes([10, 20, 30, 40, 50, 60])
    inner = b"BI /W 2 /H 1 /CS /RGB /BPC 8 ID " + pixels + b" EI"
    obj = (
        b"4 0 obj <</Length %d /Filter /FlateDecode>>\nstream\n"
        % len(zlib.compress(inner))
        + zlib.compress(inner)
        + b"\nendstream endobj"
    )
    (png,) = pdf_extract_images(make_pdf_objs([obj]))
    assert decode_png(png) == (2, 1, 3, pixels)


def test_pdf_inline_image_malformed_or_textual_bi_skipped():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    streams = [
        # prose that merely MENTIONS the operators: dict parse fails
        b"BT (the BI and ID operators precede EI) Tj ET",
        # missing EI after the computed raster length: framing reject
        b"BI /W 2 /H 1 /CS /G /BPC 8 ID " + bytes([1, 2]) + b" XX",
        # truncated flate payload: decode reject
        b"BI /W 2 /H 1 /CS /RGB /BPC 8 /F /Fl ID notdeflate EI",
        # unsupported inline filter: skipped
        b"BI /W 2 /H 1 /CS /G /BPC 8 /F /CCF ID \x00\x01 EI",
        # CMYK inline colorspace: skipped
        b"BI /W 1 /H 1 /CS /CMYK /BPC 8 ID \x00\x01\x02\x03 EI",
    ]
    for s in streams:
        assert pdf_extract_images(make_pdf_objs([_content_obj(s)])) == []


def test_pdf_inline_image_spliced_through_converter():
    from docling_api_spark.pipeline.convert import LightweightConverter

    pixels = bytes([100, 200, 150, 250])
    stream = (
        b"BT 1 0 0 1 72 720 Tm (report body) Tj ET\n"
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID " + pixels + b" EI"
    )
    res = LightweightConverter().convert(
        "doc.pdf", make_pdf_objs([_content_obj(stream)])
    )
    assert res["error"] is None
    assert res["markdown"].startswith("report body")
    assert len(res["images"]) == 1
    assert decode_png(res["images"][0]["image"]) == (2, 2, 1, pixels)


def _shared_stream_docs(k: int) -> dict[str, tuple[bytes, bytes, int]]:
    """Per case, (PDF with `k` images that all reach one stream by number,
    that stream's dict, number of images that must come back)."""
    from tests.test_ccittg4 import g4_encode
    from tests.test_jbig2 import (
        GLYPH,
        generic_encode,
        generic_region_seg,
        page_info_seg,
    )

    def numbered(img: bytes, i: int) -> bytes:
        return img.replace(b"5 0 obj", b"%d 0 obj" % (20 + i), 1)

    def stream_obj(head: bytes, d: bytes, payload: bytes) -> tuple[bytes, bytes]:
        # (object, the dict the stream index sees)
        d += b" /Length %d" % len(payload)
        return head + b" <<" + d + b">>\nstream\n" + payload + b"\nendstream endobj", d

    docs = {}
    # CCITT parms packed in an /ObjStm next to a decoy object
    body6, body7 = b"<</Decoy true>>", b"<</K -1 /Columns 8 /Rows 2>>"
    header = b"6 0 7 %d" % len(body6)
    objstm, d = stream_obj(
        b"8 0 obj",
        b"/Type /ObjStm /N 2 /First %d /Filter /FlateDecode" % (len(header) + 1),
        zlib.compress(header + b" " + body6 + body7),
    )
    g4 = g4_encode([[0, 1, 1, 0, 0, 1, 0, 1], [1, 0, 0, 1, 1, 0, 1, 0]], 8)
    imgs = [
        numbered(make_image_obj(
            g4, width=8, height=2, colorspace=b"/DeviceGray", bpc=1,
            filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 7 0 R",
        ), i)
        for i in range(k)
    ]
    docs["objstm"] = (make_pdf_objs([TEXT_OBJ, objstm, *imgs]), d, k)
    # JBIG2 images sharing one /JBIG2Globals stream
    globs, d = stream_obj(
        b"7 0 obj", b"/Filter /FlateDecode", zlib.compress(page_info_seg(1, 8, 6))
    )
    region = generic_region_seg(2, 8, 6, 0, 0, generic_encode(GLYPH))
    imgs = [
        numbered(make_image_obj(
            region, width=8, height=6, colorspace=b"/DeviceGray", bpc=1,
            filt=b"/JBIG2Decode", extra=b" /DecodeParms <</JBIG2Globals 7 0 R>>",
        ), i)
        for i in range(k)
    ]
    docs["jbig2-globals"] = (make_pdf_objs([TEXT_OBJ, globs, *imgs]), d, k)
    # images sharing one indirect /Indexed palette
    palette, d = stream_obj(
        b"7 0 obj", b"/Filter /FlateDecode", zlib.compress(bytes([255, 0, 0, 0, 0, 255]))
    )
    imgs = [
        numbered(make_image_obj(
            zlib.compress(bytes([0, 1, 1, 0])), width=2, height=2,
            colorspace=b"[/Indexed /DeviceRGB 1 7 0 R]",
        ), i)
        for i in range(k)
    ]
    docs["palette"] = (make_pdf_objs([TEXT_OBJ, *imgs, palette]), d, k)
    return docs


def test_converter_decodes_each_stream_once(monkeypatch):
    """One conversion decodes each stream at most once: the text layer
    and the inline-image scan share the decoded content streams, which
    used to be inflated twice. A Flate stream that holds only an inline
    image (no BT block) must still give its picture back. A stream that
    images reach by number (an /ObjStm holding their parms, shared JBIG2
    globals, a shared palette) is decoded as often for 8 referrers as
    for 1."""
    from docling_api_spark.pipeline import textextract
    from docling_api_spark.pipeline.convert import LightweightConverter

    gray = bytes([100, 200, 150, 250])
    rgb = bytes(range(2 * 2 * 3))
    text_stream = zlib.compress(b"BT 72 720 Td (first page) Tj ET")
    bi_stream = zlib.compress(b"q BI /W 2 /H 2 /CS /G /BPC 8 ID " + gray + b" EI Q")
    lzw_stream = lzw_encode(b"BT 72 700 Td (second page) Tj ET")
    objs = [
        b"4 0 obj <</Length %d /Filter /FlateDecode>>\nstream\n" % len(text_stream)
        + text_stream + b"\nendstream endobj",
        b"6 0 obj <</Length %d /Filter /FlateDecode>>\nstream\n" % len(bi_stream)
        + bi_stream + b"\nendstream endobj",
        b"7 0 obj <</Length %d /Filter /LZWDecode>>\nstream\n" % len(lzw_stream)
        + lzw_stream + b"\nendstream endobj",
        make_image_obj(zlib.compress(rgb), width=2, height=2),
    ]
    calls: dict[tuple[bytes, bytes], int] = {}
    real = textextract._decode_stream

    def counting(d, data, pdf=None):
        calls[(d, data)] = calls.get((d, data), 0) + 1
        return real(d, data, pdf)

    monkeypatch.setattr(textextract, "_decode_stream", counting)
    res = LightweightConverter().convert("doc.pdf", make_pdf_objs(objs))
    assert res["error"] is None
    assert res["markdown"].startswith("first page\nsecond page")
    assert len(calls) == 4  # every stream was read ...
    assert max(calls.values()) == 1  # ... exactly once
    assert [decode_png(i["image"]) for i in res["images"]] == [
        (2, 2, 1, gray),  # the BI-only stream's inline image
        (2, 2, 3, rgb),  # the image XObject
    ]

    decodes: dict[str, list[int]] = {}
    for k in (1, 8):
        for case, (doc, shared, n_images) in _shared_stream_docs(k).items():
            calls.clear()
            res = LightweightConverter().convert("doc.pdf", doc)
            assert res["error"] is None, case
            assert len(res["images"]) == n_images, case
            (count,) = [n for (d, _), n in calls.items() if d == shared]
            decodes.setdefault(case, []).append(count)
    for case, (at_1, at_8) in decodes.items():
        assert at_1 == at_8, (case, at_1, at_8)


def test_encrypted_pdf_gets_the_honest_error():
    """An /Encrypt PDF's streams decode to garbage and are skipped; the
    error must name encryption, not claim the document needs OCR. A
    convertible document whose TEXT mentions /Encrypt stays converted
    (the check runs only on the nothing-extracted path)."""
    from docling_api_spark.pipeline.convert import LightweightConverter

    encrypted = (
        b"%PDF-1.4\n"
        b"1 0 obj <</Length 20 /Filter /FlateDecode>>\nstream\n"
        b"\x8a\x9b\xde\xad\xbe\xef garbage rc4 bytes\nendstream endobj\n"
        b"trailer <</Root 1 0 R /Encrypt 9 0 R>>\n%%EOF\n"
    )
    res = LightweightConverter().convert("locked.pdf", encrypted)
    assert res["markdown"] is None
    assert res["error"] == "Encrypted (password-protected) PDF is not supported"

    mentions = make_pdf(b"BT 1 0 0 1 72 720 Tm (the /Encrypt key) Tj ET")
    ok = LightweightConverter().convert("doc.pdf", mentions)
    assert ok["error"] is None and "/Encrypt" in ok["markdown"]

    # a truly empty unencrypted pdf keeps the OCR-backend breadcrumb
    empty = LightweightConverter().convert("scan.pdf", make_pdf(b""))
    assert "docling OCR backend" in empty["error"]


# -- r13 docx text boxes + footnotes/endnotes --------------------------------
MC_NS = 'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006"'


def make_docx_with_parts(document_xml: str, parts: dict[str, str]) -> bytes:
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Override PartName="/word/document.xml" ContentType="applicat'
            "ion/vnd.openxmlformats-officedocument.wordprocessingml.docume"
            'nt.main+xml"/></Types>',
        )
        zf.writestr("word/document.xml", document_xml)
        for name, xml in parts.items():
            zf.writestr(name, xml)
    return buf.getvalue()


def test_docx_textbox_content_extracted_once():
    """Word emits a text box TWICE (mc:Choice drawing + mc:Fallback VML
    pict, same w:txbxContent) — the walker must take the Choice branch
    only, and boxed paragraphs surface as BLOCK lines after the anchor
    (before the fix this document rendered
    'anchorboxed one boxed twoboxed one boxed two')."""
    doc = f'''<?xml version="1.0"?>
<w:document {W_NS} {MC_NS}><w:body>
<w:p><w:r><w:t>anchor</w:t></w:r>
<w:r><mc:AlternateContent>
<mc:Choice Requires="wps"><w:drawing><w:txbxContent>
<w:p><w:r><w:t>boxed one</w:t></w:r></w:p>
<w:p><w:r><w:t>boxed two</w:t></w:r></w:p>
</w:txbxContent></w:drawing></mc:Choice>
<mc:Fallback><w:pict><w:txbxContent>
<w:p><w:r><w:t>boxed one</w:t></w:r></w:p>
<w:p><w:r><w:t>boxed two</w:t></w:r></w:p>
</w:txbxContent></w:pict></mc:Fallback>
</mc:AlternateContent></w:r></w:p>
</w:body></w:document>'''
    assert docx_to_markdown(make_docx(doc)).splitlines() == [
        "anchor", "boxed one", "boxed two",
    ]


def test_docx_legacy_vml_textbox_still_extracted():
    """Old documents carry VML text boxes with NO AlternateContent
    wrapper — skipping only mc:Fallback keeps them visible."""
    doc = f'''<?xml version="1.0"?>
<w:document {W_NS}><w:body>
<w:p><w:r><w:pict><w:txbxContent>
<w:p><w:r><w:t>vml boxed</w:t></w:r></w:p>
</w:txbxContent></w:pict></w:r></w:p>
</w:body></w:document>'''
    assert docx_to_markdown(make_docx(doc)) == "vml boxed"


def test_docx_footnotes_render_as_gfm_definitions():
    doc = f'''<?xml version="1.0"?>
<w:document {W_NS}><w:body>
<w:p><w:r><w:t>claim</w:t></w:r>
<w:r><w:footnoteReference w:id="2"/></w:r>
<w:r><w:t> continues.</w:t></w:r></w:p>
</w:body></w:document>'''
    notes = f'''<?xml version="1.0"?>
<w:footnotes {W_NS}>
<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:t>___</w:t></w:r></w:p></w:footnote>
<w:footnote w:id="2"><w:p><w:r><w:t>the cited source,</w:t></w:r></w:p>
<w:p><w:r><w:t>page 4</w:t></w:r></w:p></w:footnote>
</w:footnotes>'''
    md = docx_to_markdown(
        make_docx_with_parts(doc, {"word/footnotes.xml": notes})
    )
    assert md.splitlines() == [
        "claim[^2] continues.",
        "[^2]: the cited source, page 4",
    ]


def test_docx_endnotes_use_distinct_marker_namespace():
    """Footnote id 1 and endnote id 1 must not collide: endnote markers
    carry the 'en' prefix."""
    doc = f'''<?xml version="1.0"?>
<w:document {W_NS}><w:body>
<w:p><w:r><w:t>x</w:t></w:r><w:r><w:footnoteReference w:id="1"/></w:r>
<w:r><w:endnoteReference w:id="1"/></w:r></w:p>
</w:body></w:document>'''
    fn = f'''<?xml version="1.0"?><w:footnotes {W_NS}>
<w:footnote w:id="1"><w:p><w:r><w:t>foot</w:t></w:r></w:p></w:footnote></w:footnotes>'''
    en = f'''<?xml version="1.0"?><w:endnotes {W_NS}>
<w:endnote w:id="1"><w:p><w:r><w:t>end</w:t></w:r></w:p></w:endnote></w:endnotes>'''
    md = docx_to_markdown(
        make_docx_with_parts(
            doc, {"word/footnotes.xml": fn, "word/endnotes.xml": en}
        )
    )
    assert md.splitlines() == ["x[^1][^en1]", "[^1]: foot", "[^en1]: end"]


def test_docx_footnote_marker_without_part_is_harmless():
    doc = f'''<?xml version="1.0"?>
<w:document {W_NS}><w:body>
<w:p><w:r><w:t>a</w:t></w:r><w:r><w:footnoteReference w:id="3"/></w:r></w:p>
</w:body></w:document>'''
    assert docx_to_markdown(make_docx(doc)) == "a[^3]"


def test_docx_textbox_in_table_cell_inlines_once():
    """A pipe cell cannot hold block lines, so boxed text inside a cell
    inlines (space-separated, still deduped to the Choice branch)."""
    doc = f'''<?xml version="1.0"?>
<w:document {W_NS} {MC_NS}><w:body>
<w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell</w:t></w:r>
<w:r><mc:AlternateContent>
<mc:Choice Requires="wps"><w:drawing><w:txbxContent>
<w:p><w:r><w:t>boxed</w:t></w:r></w:p>
</w:txbxContent></w:drawing></mc:Choice>
<mc:Fallback><w:pict><w:txbxContent>
<w:p><w:r><w:t>boxed</w:t></w:r></w:p>
</w:txbxContent></w:pict></mc:Fallback>
</mc:AlternateContent></w:r></w:p></w:tc>
<w:tc><w:p><w:r><w:t>plain</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
</w:body></w:document>'''
    assert docx_to_markdown(make_docx(doc)).splitlines() == [
        "| cell boxed | plain |",
        "|---|---|",
    ]


# -- r13 /Decode arrays (inverted sample polarity) ---------------------------
def test_pdf_image_decode_inversion_bilevel():
    """/Decode [1 0] flips bilevel polarity (the fax BlackIs1
    convention) — without it every scan extracts as a negative."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes([0b10100101])), width=8, height=1,
                colorspace=b"/DeviceGray", bpc=1,
                extra=b" /Decode [1 0]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (
        8, 1, 1, bytes(255 * (1 - b) for b in [1, 0, 1, 0, 0, 1, 0, 1])
    )


def test_pdf_image_decode_identity_and_unsupported_forms():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rgb = bytes(range(12))
    # explicit identity: unchanged
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(rgb), width=2, height=2,
                extra=b" /Decode [0 1 0 1 0 1]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, rgb)
    # full RGB inversion
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(rgb), width=2, height=2,
                extra=b" /Decode [1 0 1 0 1 0]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, bytes(255 - v for v in rgb))
    # partial-range remap: skipped, never approximated
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(rgb), width=2, height=2,
                extra=b" /Decode [0 0.5 0 0.5 0 0.5]",
            )
        ]
    )
    assert pdf_extract_images(pdf) == []
    # Decode over palette indices: skipped
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bytes([0, 1, 2, 3])), width=2, height=2,
                colorspace=b"[/Indexed /DeviceRGB 3 <000000111111222222333333>]",
                extra=b" /Decode [3 0]",
            )
        ]
    )
    assert pdf_extract_images(pdf) == []


# -- r13 PNG unfiltering (predictor rows accessed per sample) ----------------
def test_pdf_decode_inversion_on_predictor_filtered_rows():
    """/Decode [1 0] on a /Predictor 15 stream: the filter bytes must
    not flip, so the rows are UNFILTERED (Sub + Paeth here, both
    hand-computed) before the sample-wise inversion."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # 2x2 gray pixels [[10, 20], [30, 45]]:
    #   row0 Sub:   10, 20-10=10            -> 01 0a 0a
    #   row1 Paeth: x0 pred=b(10) -> 20;    -> 04 14 0f
    #               x1 a=30 b=20 c=10, p=40, pa=10<=pb=20 -> a -> 15
    prefiltered = b"\x01\x0a\x0a\x04\x14\x0f"
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(prefiltered), width=2, height=2,
                colorspace=b"/DeviceGray",
                extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 2>>"
                b" /Decode [1 0]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (
        2, 2, 1, bytes(255 - v for v in [10, 20, 30, 45])
    )


def test_pdf_unfilter_up_average_and_rgb_sub():
    """Up and Average rows (gray) and a Sub row at bpp=3 (RGB — the
    left neighbor is one PIXEL back, not one byte)."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # gray [[10, 20], [30, 45]]: row0 Up over zero prior = raw;
    # row1 Average: x0 30-(0+10)//2=25; x1 45-(30+20)//2=20
    gray_pref = b"\x02\x0a\x14\x03\x19\x14"
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(gray_pref), width=2, height=2,
                colorspace=b"/DeviceGray",
                extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 2>>"
                b" /Decode [1 0]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (
        2, 2, 1, bytes(255 - v for v in [10, 20, 30, 45])
    )

    # RGB 2x1 [[1,2,3],[10,20,30]]: Sub -> 1,2,3, 9,18,27
    rgb_pref = b"\x01\x01\x02\x03\x09\x12\x1b"
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(rgb_pref), width=2, height=1,
                extra=b" /DecodeParms <</Predictor 15 /Colors 3 /Columns 2>>"
                b" /Decode [1 0 1 0 1 0]",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (
        2, 1, 3, bytes(255 - v for v in [1, 2, 3, 10, 20, 30])
    )


def test_pdf_smask_on_predictor_filtered_parent_merges_alpha():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # parent: the Sub+Paeth gray fixture above; mask: plain gray
    prefiltered = b"\x01\x0a\x0a\x04\x14\x0f"
    mask = bytes([255, 128, 64, 0])
    img = make_image_obj(
        zlib.compress(prefiltered), width=2, height=2,
        colorspace=b"/DeviceGray",
        extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 2>>"
        b" /SMask 7 0 R",
    )
    smask = make_image_obj(
        zlib.compress(mask), width=2, height=2, colorspace=b"/DeviceGray"
    ).replace(b"5 0 obj", b"7 0 obj")
    (png,) = pdf_extract_images(make_pdf_objs([img, smask]))
    gray = [10, 20, 30, 45]
    expect = b"".join(bytes([gray[i], mask[i]]) for i in range(4))
    assert decode_png(png) == (2, 2, 2, expect)


def test_pdf_unfilter_rejects_unknown_filter_tag():
    """A bogus filter tag must not guess: the inversion path skips the
    stream (plain extraction of the same stream also cannot round-trip,
    because PNG itself would reject tag 9 — so skip is the only honest
    outcome)."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    bad = b"\x09\x0a\x14\x00\x1e\x2d"
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(bad), width=2, height=2,
                colorspace=b"/DeviceGray",
                extra=b" /DecodeParms <</Predictor 15 /Colors 1 /Columns 2>>"
                b" /Decode [1 0]",
            )
        ]
    )
    assert pdf_extract_images(pdf) == []


def test_html_blockquote_renders_quote_prefixes():
    """Blockquote content gets CommonMark '> ' prefixes (nested quotes
    stack; headings and list items keep their own markers inside)."""
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = (
        b"<p>before</p>"
        b"<blockquote><p>quoted line</p>"
        b"<blockquote><p>deeper</p></blockquote>"
        b"<h2>quoted heading</h2>"
        b"</blockquote>"
        b"<p>after</p>"
    )
    assert html_to_markdown(html).splitlines() == [
        "before",
        "> quoted line",
        "> > deeper",
        "> ## quoted heading",
        "after",
    ]


def test_html_blockquote_inside_cell_stays_in_cell():
    from docling_api_spark.pipeline.textextract import html_to_markdown

    html = (
        b"<table><tr><td><blockquote>boxed quote</blockquote></td>"
        b"<td>plain</td></tr></table>"
    )
    assert html_to_markdown(html).splitlines() == [
        "| boxed quote | plain |",
        "|---|---|",
    ]


def test_pptx_speaker_notes_extracted_under_notes_header():
    """Speaker notes (the notesSlide body placeholder) surface after the
    slide content; the slide-number field shape and other machinery
    placeholders stay out."""
    from docling_api_spark.pipeline.textextract import pptx_to_markdown

    P_NS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
    slide = (
        f'<?xml version="1.0"?><p:sld {P_NS} {A_NS}>'
        "<p:cSld><p:spTree><p:sp><p:txBody>"
        "<a:p><a:r><a:t>slide body</a:t></a:r></a:p>"
        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )
    notes = (
        f'<?xml version="1.0"?><p:notes {P_NS} {A_NS}>'
        "<p:cSld><p:spTree>"
        # slide-number placeholder: machinery, excluded
        '<p:sp><p:nvSpPr><p:nvPr><p:ph type="sldNum"/></p:nvPr></p:nvSpPr>'
        "<p:txBody><a:p><a:fld><a:t>7</a:t></a:fld></a:p></p:txBody></p:sp>"
        # the body placeholder: the author's notes
        '<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr>'
        "<p:txBody><a:p><a:r><a:t>remember the demo</a:t></a:r></a:p>"
        "<a:p><a:r><a:t>and the Q&amp;A</a:t></a:r></a:p></p:txBody></p:sp>"
        "</p:spTree></p:cSld></p:notes>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxml'
        'formats.org/package/2006/relationships">'
        '<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/notesSlide" '
        'Target="../notesSlides/notesSlide1.xml"/></Relationships>'
    )
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ppt/presentation.xml", "<p/>")
        zf.writestr("ppt/slides/slide1.xml", slide)
        zf.writestr("ppt/slides/_rels/slide1.xml.rels", rels)
        zf.writestr("ppt/notesSlides/notesSlide1.xml", notes)
    assert pptx_to_markdown(buf.getvalue()).splitlines() == [
        "## Slide 1",
        "slide body",
        "### Notes",
        "remember the demo",
        "and the Q&A",
    ]


def test_pptx_without_notes_is_unchanged():
    from docling_api_spark.pipeline.textextract import pptx_to_markdown

    P_NS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
    slide = (
        f'<?xml version="1.0"?><p:sld {P_NS} {A_NS}>'
        "<p:cSld><p:spTree><p:sp><p:txBody>"
        "<a:p><a:r><a:t>only body</a:t></a:r></a:p>"
        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )
    assert pptx_to_markdown(make_pptx([slide])).splitlines() == [
        "## Slide 1",
        "only body",
    ]


def test_pdf_inline_image_ascii_and_chained_filters():
    """AHx / A85 / RL and the AHx->Fl chain: the payload end comes from
    each filter's own framing, the decode runs through the shared
    _decode_stream chain runner."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    import base64

    gray = bytes([1, 2, 3, 4, 5, 6])
    # /AHx: hex digits, '>' EOD
    s1 = b"BI /W 3 /H 2 /CS /G /BPC 8 /F /AHx ID " + gray.hex().encode() + b"> EI"
    # /A85 with the ~> terminator
    s2 = b"BI /W 3 /H 2 /CS /G /BPC 8 /F /A85 ID " + base64.a85encode(gray) + b"~> EI"
    # chain: hex layer around a flate payload
    s3 = (
        b"BI /W 3 /H 2 /CS /G /BPC 8 /F [/AHx /Fl] ID "
        + zlib.compress(gray).hex().encode() + b"> EI"
    )
    # /RL: run-length with its 128 EOD marker
    rle = b"\x05" + gray + b"\x80"  # one literal run of 6, then EOD
    s4 = b"BI /W 3 /H 2 /CS /G /BPC 8 /F /RL ID " + rle + b" EI"
    for s in (s1, s2, s3, s4):
        (png,) = pdf_extract_images(make_pdf_objs([_content_obj(s)]))
        assert decode_png(png) == (3, 2, 1, gray), s[:40]


def test_pdf_inline_image_lzw_both_earlychange_settings():
    """Inline /LZW images: the /DP EarlyChange knob must reach the
    decoder through the synthetic dict or early-change-0 streams
    desync."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    gray = bytes([10, 200, 30, 40, 55, 6])
    for early, dp in ((1, b""), (0, b" /DP <</EarlyChange 0>>")):
        s = (
            b"BI /W 3 /H 2 /CS /G /BPC 8 /F /LZW" + dp + b" ID "
            + lzw_encode(gray, early) + b" EI"
        )
        (png,) = pdf_extract_images(make_pdf_objs([_content_obj(s)]))
        assert decode_png(png) == (3, 2, 1, gray), early


def test_pdf_inline_image_indexed_palette_and_decode_forwarded():
    """Inline abbreviations reach the shared pipeline: `[/I /RGB ...]`
    palettes, /DP predictor geometry, and the /D decode array."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # indexed inline, hex palette, 8-bit indices
    palette = bytes([255, 0, 0, 0, 255, 0])
    s1 = (
        b"BI /W 2 /H 1 /BPC 8 /CS [/I /RGB 1 <" + palette.hex().encode()
        + b">] /F /Fl ID " + zlib.compress(bytes([0, 1])) + b" EI"
    )
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(s1)]))
    assert decode_png(png) == (2, 1, 3, palette)

    # /D [1 0] inversion on an inline bilevel raster
    s2 = (
        b"BI /W 8 /H 1 /CS /G /BPC 1 /D [1 0] ID "
        + bytes([0b11110000]) + b" EI"
    )
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(s2)]))
    assert decode_png(png) == (
        8, 1, 1, bytes(255 * (1 - b) for b in [1, 1, 1, 1, 0, 0, 0, 0])
    )

    # /DP predictor 2 geometry forwarded (gray, per-row undiff)
    pixels = bytes([100, 110, 105])
    diffed = bytes([100, 10, 251])
    s3 = (
        b"BI /W 3 /H 1 /CS /G /BPC 8 /F /Fl "
        b"/DP <</Predictor 2 /Colors 1 /Columns 3>> ID "
        + zlib.compress(diffed) + b" EI"
    )
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(s3)]))
    assert decode_png(png) == (3, 1, 1, pixels)


def test_pdf_inline_image_full_256_entry_palette_fits_the_dict_cap():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    palette = bytes(range(256)) * 3  # 768 bytes -> 1536 hex chars
    # order palette as 256 RGB triples: entry i = (i, i, i) for checkability
    palette = b"".join(bytes([i, i, i]) for i in range(256))
    idx = bytes([0, 17, 255, 128])
    s = (
        b"BI /W 2 /H 2 /BPC 8 /CS [/I /RGB 255 <" + palette.hex().encode()
        + b">] /F /Fl ID " + zlib.compress(idx) + b" EI"
    )
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(s)]))
    assert decode_png(png) == (
        2, 2, 3, b"".join(bytes([i, i, i]) for i in idx)
    )


def test_pdf_image_cmyk_converts_with_naive_formula():
    """8-bit DeviceCMYK rasters convert to RGB with the standard no-ICC
    formula (component = 255 - min(255, chroma + K)); a /Decode array
    over the four CMYK components is NOT replayed — skip, never guess."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # pixels: pure cyan, pure black via K, rich black (clamps), white
    cmyk = bytes(
        [255, 0, 0, 0,   0, 0, 0, 255,   200, 200, 200, 200,   0, 0, 0, 0]
    )
    expect = bytes(
        [0, 255, 255,   0, 0, 0,   0, 0, 0,   255, 255, 255]
    )
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(cmyk), width=2, height=2,
                colorspace=b"/DeviceCMYK",
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (2, 2, 3, expect)

    inverted = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(cmyk), width=2, height=2,
                colorspace=b"/DeviceCMYK",
                extra=b" /Decode [1 0 1 0 1 0 1 0]",
            )
        ]
    )
    assert pdf_extract_images(inverted) == []


def test_pdf_indirect_indexed_palette_resolved_through_object_table():
    """`[/Indexed /DeviceRGB 1 7 0 R]`: the palette bytes live in their
    own (here Flate) stream object — resolved exactly like /SMask
    targets and normalized into the shared palette recovery."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    palette = bytes([255, 0, 0, 0, 0, 255])
    img = make_image_obj(
        zlib.compress(bytes([0, 1, 1, 0])), width=2, height=2,
        colorspace=b"[/Indexed /DeviceRGB 1 7 0 R]",
    )
    pal_obj = (
        b"7 0 obj <</Length %d /Filter /FlateDecode>>\nstream\n"
        % len(zlib.compress(palette))
        + zlib.compress(palette)
        + b"\nendstream endobj"
    )
    (png,) = pdf_extract_images(make_pdf_objs([img, pal_obj]))
    expect = palette[0:3] + palette[3:6] + palette[3:6] + palette[0:3]
    assert decode_png(png) == (2, 2, 3, expect)


def test_later_object_definition_wins():
    """An appended update that redefines an object replaces it (ISO
    32000-1 §7.5.6), for every lookup by number: a CCITT image's indirect
    /DecodeParms and an indirect palette both resolve to the last copy."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )
    from tests.test_ccittg4 import g4_encode

    rows_px = [[0, 1, 1, 0, 0, 1, 0, 1], [1, 0, 0, 1, 1, 0, 1, 0]]
    img = make_image_obj(
        g4_encode(rows_px, 8), width=8, height=2,
        colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 9 0 R",
    )
    good, bad = (
        b"9 0 obj <</K -1 /Columns %d /Rows 2>> endobj" % n for n in (8, 999)
    )
    # a header spelled out inside a later stream's payload is payload,
    # not a new definition
    quoted = _content_obj(b"BT (" + bad + b") Tj ET", num=6)
    for objs in ([bad, good], [good, quoted]):
        doc = make_pdf_objs([TEXT_OBJ, img, *objs])
        assert pdf_undecodable_image_streams(doc) == {}
        (png,) = pdf_extract_images(doc)
        assert decode_png(png) == (
            8, 2, 1, bytes(0 if p else 255 for row in rows_px for p in row)
        )

    def palette_obj(palette: bytes) -> bytes:
        return (
            b"7 0 obj <</Length %d /Filter /FlateDecode>>\nstream\n"
            % len(zlib.compress(palette))
            + zlib.compress(palette) + b"\nendstream endobj"
        )

    img = make_image_obj(
        zlib.compress(bytes([0, 1, 1, 0])), width=2, height=2,
        colorspace=b"[/Indexed /DeviceRGB 1 7 0 R]",
    )
    stale, palette = bytes(6), bytes([255, 0, 0, 0, 0, 255])
    (png,) = pdf_extract_images(
        make_pdf_objs([img, palette_obj(stale), palette_obj(palette)])
    )
    expect = palette[0:3] + palette[3:6] + palette[3:6] + palette[0:3]
    assert decode_png(png) == (2, 2, 3, expect)


def test_objects_are_looked_up_only_through_pdffile():
    """`PdfFile` holds the one object table: no other code under
    pipeline/ builds a search for `N G obj` from an object number."""
    import ast
    import glob
    import os
    import re

    from docling_api_spark.pipeline import textextract

    pipeline = os.path.dirname(textextract.__file__)
    by_number = re.compile(r"(?:%d|\{[^{}]*\})\\s[+*](?:%d|\{[^{}]*\})\\s[+*]obj")
    found = []
    for path in sorted(glob.glob(os.path.join(pipeline, "*.py"))):
        with open(path, encoding="utf-8") as f:
            source = f.read()
        inside = set()
        for node in ast.walk(ast.parse(source)):
            if isinstance(node, ast.ClassDef) and node.name == "PdfFile":
                inside.update(range(node.lineno, node.end_lineno + 1))
        for n, line in enumerate(source.splitlines(), 1):
            if n not in inside and by_number.search(line):
                found.append(f"{os.path.basename(path)}:{n}")
    assert found == []


def test_encrypted_pdf_is_indexed_once(monkeypatch):
    """The converter hands the `PdfFile` it sniffed /Encrypt with to the
    decryptor: one `PdfFile`, one stream index and one object table per
    encrypted PDF (the decrypted copy gets its own)."""
    from functools import cached_property

    from docling_api_spark.pipeline import textextract
    from docling_api_spark.pipeline.convert import LightweightConverter
    from tests.test_pdfcrypt import TEXT, _aesv2_pdf, _r6_pdf, _rc4_pdf

    opened, built = [], []
    init = textextract.PdfFile.__init__

    def counting_init(self, content):
        opened.append(content)
        init(self, content)

    monkeypatch.setattr(textextract.PdfFile, "__init__", counting_init)
    for name in ("streams", "_objects"):
        func = getattr(textextract.PdfFile, name).func

        def counting(self, func=func, name=name):
            built.append((name, self.content))
            return func(self)

        prop = cached_property(counting)
        prop.__set_name__(textextract.PdfFile, name)
        monkeypatch.setattr(textextract.PdfFile, name, prop)

    conv = LightweightConverter()
    for doc in (_rc4_pdf(r=3, v=2, length_bits=128), _aesv2_pdf(), _r6_pdf()):
        out = conv.convert("locked.pdf", doc)
        assert out["markdown"].strip() == TEXT
        assert opened.count(doc) == 1
        assert built.count(("streams", doc)) == 1
        assert built.count(("_objects", doc)) == 1


# -- r14 hardening: advisor DoS/wrong-note fixes + trailer-confined /Encrypt -
def test_pdf_forged_hival_is_skipped_not_allocated():
    """ADVICE r13 (high): `/ColorSpace [/Indexed /DeviceRGB 999999999
    <00>]` in a ~110-byte stream used to drive a multi-GB palette
    ljust + LUT allocation, erroring the whole document. The spec caps
    hival at 255 (indices are <=8-bit); a forged value must skip the
    STREAM only — total contract, never raise, never allocate."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    bomb = make_image_obj(
        zlib.compress(b"\x00"),
        width=1, height=1, bpc=8,
        colorspace=b"[/Indexed /DeviceRGB 999999999 <00>]",
    )
    assert pdf_extract_images(make_pdf_objs([TEXT_OBJ, bomb])) == []

    # indirect-palette form of the same forgery: the bounded regex never
    # matches, so no object table is built and the stream is skipped
    indirect = make_image_obj(
        zlib.compress(b"\x00"),
        width=1, height=1, bpc=8,
        colorspace=b"[/Indexed /DeviceRGB 999999999 7 0 R]",
    )
    assert pdf_extract_images(make_pdf_objs([TEXT_OBJ, indirect])) == []

    # inline (BI..ID..EI) form: same guard through the inline regex
    stream = (
        b"BI /W 1 /H 1 /BPC 8 /CS [/I /RGB 999999999 <00>] ID \x00 EI"
    )
    assert pdf_extract_images(
        make_pdf_objs([_content_obj(stream)])
    ) == []

    # boundary: hival 255 (the spec maximum) stays recoverable
    palette = bytes(range(256)) * 3
    lut = bytes(
        b for i in range(256) for b in (palette[i], palette[256 + i], palette[512 + i])
    )
    ok = make_image_obj(
        zlib.compress(bytes([0, 255])),
        width=2, height=1, bpc=8,
        colorspace=b"[/Indexed /DeviceRGB 255 <" + lut.hex().encode() + b">]",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, ok]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (2, 1, 3)
    assert raw == lut[0:3] + lut[765:768]


def test_pdf_inline_flate_bomb_is_bounded():
    """ADVICE r13: inline-image Flate end detection used to decompress
    the remainder unbounded (twice). A payload whose decompressed size
    wildly exceeds the declared 2x2 geometry is now rejected at the
    output cap — and a legitimate inline flate image still extracts."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    bomb = zlib.compress(b"\x00" * (10 * 1024 * 1024))  # ~10 KB compressed
    stream = b"BI /W 2 /H 2 /CS /G /BPC 8 /F /Fl ID " + bomb + b" EI"
    assert pdf_extract_images(make_pdf_objs([_content_obj(stream)])) == []

    pixels = bytes([10, 20, 30, 40])
    good = b"BI /W 2 /H 2 /CS /G /BPC 8 /F /Fl ID " + zlib.compress(pixels) + b" EI"
    (png,) = pdf_extract_images(make_pdf_objs([_content_obj(good)]))
    assert decode_png(png) == (2, 2, 1, pixels)


def test_pdf_non_content_streams_not_scanned_for_inline_images():
    """ADVICE r13: the inline-image scan used to decode EVERY non-image
    stream (fonts, XMP metadata, ICC profiles) just to look for 'BI'.
    Streams that cannot be page content are now skipped undecoded — a
    font program whose bytes happen to spell a valid BI..ID..EI block
    yields nothing — while /Subtype /Form XObjects (real content) are
    still scanned."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes([1, 2, 3, 4])
    inline = b"BI /W 2 /H 2 /CS /G /BPC 8 ID " + pixels + b" EI"
    font = (
        b"7 0 obj <</Subtype /Type1C /Length %d>>\nstream\n" % len(inline)
        + inline + b"\nendstream endobj"
    )
    assert pdf_extract_images(make_pdf_objs([font])) == []

    fontfile = (
        b"8 0 obj <</Length1 %d /Length %d>>\nstream\n"
        % (len(inline), len(inline))
        + inline + b"\nendstream endobj"
    )
    assert pdf_extract_images(make_pdf_objs([fontfile])) == []

    metadata = (
        b"9 0 obj <</Type /Metadata /Subtype /XML /Length %d>>\nstream\n"
        % len(inline) + inline + b"\nendstream endobj"
    )
    assert pdf_extract_images(make_pdf_objs([metadata])) == []

    form = (
        b"6 0 obj <</Type /XObject /Subtype /Form /Length %d>>\nstream\n"
        % len(inline) + inline + b"\nendstream endobj"
    )
    (png,) = pdf_extract_images(make_pdf_objs([form]))
    assert decode_png(png) == (2, 2, 1, pixels)


def test_pdf_smask_streams_not_counted_undecodable():
    """ADVICE r13: an image's /SMask target in an undecodable codec is an
    ALPHA CHANNEL of a picture that was extracted, not a missing scan —
    the breadcrumb counter must not name it. A standalone CCITT image
    (a real missing picture) is still counted."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    pixels = bytes(range(2 * 2 * 3))
    parent = make_image_obj(
        zlib.compress(pixels), width=2, height=2,
        extra=b" /SMask 6 0 R",
    )
    mask = (
        b"6 0 obj <</Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
        b"/Filter /CCITTFaxDecode /DecodeParms 9 0 R /Length 4>>"
        b"\nstream\n\x00\x00\x00\x00"
        b"\nendstream endobj"
    )
    doc = make_pdf_objs([TEXT_OBJ, parent, mask])
    assert pdf_undecodable_image_streams(doc) == {}
    # the parent still extracts (unmergeable mask degrades to opaque)
    (png,) = pdf_extract_images(doc)
    assert decode_png(png) == (2, 2, 3, pixels)

    # a CCITT image that is NOT anyone's mask keeps the breadcrumb
    standalone = (
        b"7 0 obj <</Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
        b"/Filter /CCITTFaxDecode /DecodeParms 9 0 R /Length 4>>"
        b"\nstream\n\x00\x00\x00\x00"
        b"\nendstream endobj"
    )
    assert pdf_undecodable_image_streams(
        make_pdf_objs([TEXT_OBJ, standalone])
    ) == {"CCITTFaxDecode": 1}


def test_encrypt_token_in_stream_data_keeps_ocr_breadcrumb():
    """VERDICT r13 what's-wrong #3: /Encrypt is sniffed only in TRAILER
    dictionaries now. A nothing-extracted, UNENCRYPTED pdf whose raw
    stream bytes contain the token gets the OCR breadcrumb, not the
    encryption error; a real trailer /Encrypt (classic or XRef-stream
    form) still names encryption."""
    from docling_api_spark.pipeline.convert import LightweightConverter
    from docling_api_spark.pipeline.textextract import pdf_is_encrypted

    token_in_stream = (
        b"%PDF-1.4\n"
        b"1 0 obj <</Length 14>>\nstream\n/Encrypt 9 0 R\nendstream endobj\n"
        b"trailer <</Root 1 0 R>>\n%%EOF\n"
    )
    assert not pdf_is_encrypted(token_in_stream)
    res = LightweightConverter().convert("odd.pdf", token_in_stream)
    assert res["error"] is not None and "docling OCR backend" in res["error"]

    classic = (
        b"%PDF-1.4\n1 0 obj <</Length 1>>\nstream\nx\nendstream endobj\n"
        b"trailer <</Root 1 0 R /Encrypt 9 0 R>>\n%%EOF\n"
    )
    assert pdf_is_encrypted(classic)

    nested = (
        b"%PDF-1.4\ntrailer <</Root 1 0 R /Encrypt <</V 4 /R 4>> "
        b"/ID [<aa><bb>]>>\n%%EOF\n"
    )
    assert pdf_is_encrypted(nested)

    xref_stream = (
        b"%PDF-1.5\n"
        b"2 0 obj <</Type /XRef /Encrypt 9 0 R /W [1 2 1] /Length 4>>\n"
        b"stream\n\x00\x00\x00\x00\nendstream endobj\n%%EOF\n"
    )
    assert pdf_is_encrypted(xref_stream)


# -- r14: PNG predictors over non-8-bit rasters ------------------------------
def _png_filter_up(rows: list[bytes]) -> bytes:
    out, prev = b"", b"\x00" * len(rows[0])
    for r in rows:
        out += b"\x02" + bytes((c - p) & 0xFF for c, p in zip(r, prev))
        prev = r
    return out


def _png_filter_sub(rows: list[bytes], bpp: int) -> bytes:
    out = b""
    for r in rows:
        line = bytearray()
        for i, c in enumerate(r):
            left = r[i - bpp] if i >= bpp else 0
            line.append((c - left) & 0xFF)
        out += b"\x01" + bytes(line)
    return out


def test_pdf_indexed_with_png_predictor_recovered():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # 4-bit indices, 2 rows of 4 pixels: packed rows [0x01,0x23], [0x32,0x10]
    rows = [bytes([0x01, 0x23]), bytes([0x32, 0x10])]
    palette = bytes(range(12))  # 4 RGB entries
    obj = make_image_obj(
        zlib.compress(_png_filter_up(rows)), width=4, height=2, bpc=4,
        colorspace=b"[/Indexed /DeviceRGB 3 <" + palette.hex().encode() + b">]",
        extra=b" /DecodeParms <</Predictor 15 /Colors 1 "
        b"/BitsPerComponent 4 /Columns 4>>",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (4, 2, 3)
    idx = [0, 1, 2, 3, 3, 2, 1, 0]
    assert raw == b"".join(palette[3 * i : 3 * i + 3] for i in idx)


def test_pdf_bilevel_gray_with_png_predictor_recovered():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rows = [bytes([0b10110010]), bytes([0b01001101])]
    obj = make_image_obj(
        zlib.compress(_png_filter_sub(rows, 1)), width=8, height=2, bpc=1,
        colorspace=b"/DeviceGray",
        extra=b" /DecodeParms <</Predictor 11 /Columns 8>>",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    bits = [int(b) for byte in b"".join(rows) for b in f"{byte:08b}"]
    assert raw == bytes(255 * b for b in bits)


def test_pdf_16bit_gray_with_png_predictor_high_byte_reduced():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # 2x2 16-bit gray, big-endian samples
    samples = [0x0102, 0xFFEE, 0x8000, 0x7FFF]
    rows = [
        b"".join(s.to_bytes(2, "big") for s in samples[:2]),
        b"".join(s.to_bytes(2, "big") for s in samples[2:]),
    ]
    obj = make_image_obj(
        zlib.compress(_png_filter_up(rows)), width=2, height=2, bpc=16,
        colorspace=b"/DeviceGray",
        extra=b" /DecodeParms <</Predictor 12 /Columns 2 "
        b"/BitsPerComponent 16>>",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (2, 2, 1)
    assert raw == bytes([0x01, 0xFF, 0x80, 0x7F])


def test_pdf_cmyk_with_png_predictor_converted():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    # 1x2 CMYK: pure cyan and pure black
    rows = [bytes([255, 0, 0, 0]), bytes([0, 0, 0, 255])]
    obj = make_image_obj(
        zlib.compress(_png_filter_up(rows)), width=1, height=2, bpc=8,
        colorspace=b"/DeviceCMYK",
        extra=b" /DecodeParms <</Predictor 15 /Colors 4 /Columns 1>>",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (1, 2, 3)
    assert raw == bytes([0, 255, 255, 0, 0, 0])  # cyan row, black row


# ---------------------------------------------------------------------------
# conversion output pinned on the benchmark corpus
# ---------------------------------------------------------------------------

# SHA-256 of the canonical encoding below, recorded before the PDF
# kernel's speedups (one decode per stream, linear-time LZW, string fast
# paths): those must leave conversion output byte-identical
_CORPUS_CONVERSION_SHA256 = (
    "4e9f710006a121961a9131e65252542f7f66b52082ad2525ed160b3988a9c688"
)


def test_benchmark_corpus_conversion_is_pinned():
    """Eight large and eight small benchmark documents (every format; the
    PDFs use Flate, ASCII85+Flate, LZW and hex content streams plus
    raster XObjects) for seeds 1 and 7 convert to exactly the pinned
    filename, markdown, images and error."""
    import hashlib
    import random

    from docling_api_spark.pipeline.convert import LightweightConverter
    from perfbench import corpus

    h = hashlib.sha256()

    def put(b: bytes) -> None:
        h.update(len(b).to_bytes(8, "big"))
        h.update(b)

    def put_opt(s: str | None) -> None:
        put(b"\x00" if s is None else b"\x01" + s.encode("utf-8", "surrogatepass"))

    conv = LightweightConverter()
    for seed in (1, 7):
        rng = random.Random(seed)
        docs = [corpus.large_doc(rng, i) for i in range(8)]
        docs += [corpus.small_doc(rng, i) for i in range(8)]
        for doc in docs:
            r = conv.convert(doc.name, doc.content)
            put(r["filename"].encode())
            put_opt(r["markdown"])
            put_opt(r["error"])
            put(b"%d" % len(r["images"]))
            for im in r["images"]:
                put(im["type"].encode())
                put(im["filename"].encode())
                put(im["image"])
    assert h.hexdigest() == _CORPUS_CONVERSION_SHA256
