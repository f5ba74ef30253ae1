"""CCITT Group 4 (T.6) decoder tests: table invariants, hand-derived
known-answer vectors, hypothesis round-trip fuzz against an
independently-written encoder, and the PDF integration surface
(pdf_extract_images + the undecodable-codec breadcrumb)."""

from __future__ import annotations

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_api_spark.pipeline.ccittg4 import (
    _BLACK_CODES,
    _BLACK_MAKEUP,
    _EXT_MAKEUP,
    _MODE_CODES,
    _WHITE_CODES,
    _WHITE_MAKEUP,
    ccitt_g4_decode,
)
from tests.test_textextract import (
    TEXT_OBJ,
    decode_png,
    make_image_obj,
    make_pdf_objs,
)

# ---------------------------------------------------------------------------
# independent G4 encoder (test oracle): same public T.6 algorithm,
# written against the spec rather than against the decoder — transitions
# are computed from pixels, mode selection follows the standard
# pass/vertical/horizontal precedence, runs use the same public tables.
# ---------------------------------------------------------------------------

_ENC_RUN = (
    {run: bits for bits, run in {**_WHITE_CODES, **_WHITE_MAKEUP}.items()},
    {run: bits for bits, run in {**_BLACK_CODES, **_BLACK_MAKEUP}.items()},
)
for _t in _ENC_RUN:
    _t.update({run: bits for bits, run in _EXT_MAKEUP.items()})
_ENC_MODE = {mode: bits for bits, mode in _MODE_CODES.items()}


def _transitions(pixels: list[int]) -> list[int]:
    """positions where colour changes, scanning an implicitly-white row
    (pixels: 1 = black)."""
    out, prev = [], 0
    for i, p in enumerate(pixels):
        if p != prev:
            out.append(i)
            prev = p
    return out


def _emit_run(bits: list[str], run: int, colour: int) -> None:
    while run >= 64:
        makeup = min(2560, (run // 64) * 64)
        bits.append(_ENC_RUN[colour][makeup])
        run -= makeup
    bits.append(_ENC_RUN[colour][run])


def g4_encode(
    rows_px: list[list[int]], columns: int, byte_align: bool = False
) -> bytes:
    bits: list[str] = []
    ref = [columns, columns]
    for px in rows_px:
        if byte_align and (sum(map(len, bits)) % 8):
            bits.append("0" * (8 - sum(map(len, bits)) % 8))
        cur = _transitions(px)
        a0, colour, ci = -1, 0, 0  # ci: index of next unconsumed cur elt
        while a0 < columns:
            a1 = cur[ci] if ci < len(cur) else columns
            # b1: first ref transition right of a0 with index parity
            # equal to the current colour
            bi = 0
            while bi < len(ref) and (
                ref[bi] <= a0 or (a0 < 0 and ref[bi] < 0)
            ):
                bi += 1
            if (bi & 1) != colour:
                bi += 1
            b1 = ref[bi] if bi < len(ref) else columns
            b2 = ref[bi + 1] if bi + 1 < len(ref) else columns
            if b2 < a1:
                bits.append(_ENC_MODE[("p",)])
                a0 = b2
            elif abs(a1 - b1) <= 3:
                bits.append(_ENC_MODE[("v", a1 - b1)])
                a0, colour, ci = a1, colour ^ 1, ci + 1
            else:
                a2 = cur[ci + 1] if ci + 1 < len(cur) else columns
                start = a0 if a0 > 0 else 0
                bits.append(_ENC_MODE[("h",)])
                _emit_run(bits, a1 - start, colour)
                _emit_run(bits, a2 - a1, colour ^ 1)
                a0, ci = a2, ci + 2
        ref = cur + [columns, columns]
    bits.append("000000000001000000000001")  # EOFB
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    data = int(s, 2).to_bytes(len(s) // 8, "big") if s else b""
    # keep PDF fixtures immune to the one-EOL strip before `endstream`
    if data.endswith((b"\n", b"\r")):
        data += b"\x00"
    return data


def _pack(rows_px: list[list[int]], columns: int, black_is_1: bool) -> bytes:
    row_bytes = (columns + 7) // 8
    out = bytearray()
    for px in rows_px:
        val = 0
        for i, p in enumerate(px):
            bit = p if black_is_1 else 1 - p
            if bit:
                val |= 1 << (row_bytes * 8 - 1 - i)
        out += val.to_bytes(row_bytes, "big")
    return bytes(out)


# -- table invariants --------------------------------------------------------
def test_tables_are_prefix_free_and_cover_every_run():
    for table in (
        {**_WHITE_CODES, **_WHITE_MAKEUP, **_EXT_MAKEUP},
        {**_BLACK_CODES, **_BLACK_MAKEUP, **_EXT_MAKEUP},
        _MODE_CODES,
    ):
        codes = sorted(table, key=len)
        for i, a in enumerate(codes):
            for b in codes[i + 1 :]:
                assert not b.startswith(a), f"{a} prefixes {b}"
    assert sorted(_WHITE_CODES.values()) == list(range(64))
    assert sorted(_BLACK_CODES.values()) == list(range(64))
    assert sorted(_WHITE_MAKEUP.values()) == list(range(64, 1729, 64))
    assert sorted(_BLACK_MAKEUP.values()) == list(range(64, 1729, 64))
    assert sorted(_EXT_MAKEUP.values()) == list(range(1792, 2561, 64))
    # codes must be unique within each colour's combined table
    for a, b in ((_WHITE_CODES, _WHITE_MAKEUP), (_BLACK_CODES, _BLACK_MAKEUP)):
        combined = {**a, **b, **_EXT_MAKEUP}
        assert len(combined) == len(a) + len(b) + len(_EXT_MAKEUP)


def test_canonical_t4_code_spot_checks():
    """Entries every published copy of the T.4 tables agrees on."""
    assert _WHITE_CODES["00110101"] == 0
    assert _WHITE_CODES["000111"] == 1
    assert _WHITE_CODES["0111"] == 2
    assert _WHITE_CODES["00110100"] == 63
    assert _WHITE_MAKEUP["11011"] == 64
    assert _WHITE_MAKEUP["011000"] == 1664  # the famous 6-bit make-up
    assert _WHITE_MAKEUP["010011011"] == 1728
    assert _BLACK_CODES["0000110111"] == 0
    assert _BLACK_CODES["010"] == 1
    assert _BLACK_CODES["11"] == 2
    assert _BLACK_CODES["10"] == 3
    assert _BLACK_CODES["000001100111"] == 63
    assert _BLACK_MAKEUP["0000001111"] == 64
    assert _EXT_MAKEUP["00000001000"] == 1792
    assert _EXT_MAKEUP["000000011111"] == 2560


# -- hand-derived known-answer vectors ---------------------------------------
def test_all_white_page_is_one_v0_bit_per_line():
    """T.6 by hand: an all-white line against an all-white reference has
    b1 = a1 = columns, so each line is the single V0 bit '1'. Two lines
    + EOFB = '11' + 24 EOFB bits, padded: 0xC0,0x00,0x10,0x00,0x10."""
    data = bytes([0b11000000, 0x00, 0b00010000, 0x00, 0b00010000])
    out = ccitt_g4_decode(data, columns=6, rows=2)
    assert out == b"\xfc\xfc"  # 6 white (1) bits + 2 pad per row


def test_all_black_line_is_horizontal_mode_by_hand():
    """First line all black: H (001) + white run 0 (00110101) + black
    run 8 (000101) = 001 00110101 000101, then line 2 V0 V0 ('11'),
    then EOFB."""
    bits = "001" + "00110101" + "000101" + "1" + "1" \
        + "000000000001000000000001"
    bits += "0" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    out = ccitt_g4_decode(data, columns=8, rows=2)
    assert out == b"\x00\x00"  # black = 0 bits (BlackIs1 default false)
    assert ccitt_g4_decode(data, columns=8, rows=2, black_is_1=True) \
        == b"\xff\xff"


def test_vertical_and_pass_modes_by_hand():
    """Line 1: black run [2,5) via H (white 2 = 0111, black 3 = 10),
    closed by V0 against b1=8 (=columns).
    Line 2: black [3,6) — VR1 against b1=2, VR1 against b1=5, then V0
    closing the line against b1=8.
    Line 3: all white — the black run of line 2 vanishes via PASS
    (0001: a0 jumps past b2=6 with colour still white) then V0."""
    bits = (
        "001" + "0111" + "10" + "1"  # line 1: H w2 b3, V0 -> [2,5)
        + "011" + "011" + "1"        # line 2: VR1 VR1 V0 -> [3,6)
        + "0001" + "1"               # line 3: pass over [3,6), then V0
        + "000000000001000000000001"
    )
    bits += "0" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    out = ccitt_g4_decode(data, columns=8, rows=3)
    assert out is not None
    rows = [out[0], out[1], out[2]]
    assert rows[0] == int("11000111", 2)  # black [2,5)
    assert rows[1] == int("11100011", 2)  # black [3,6)
    assert rows[2] == int("11111111", 2)  # all white


# -- round-trip fuzz vs the independent encoder ------------------------------
@settings(max_examples=120, deadline=None)
@given(
    st.integers(1, 30),
    st.integers(1, 10),
    st.booleans(),
    st.booleans(),
    st.data(),
)
def test_fuzz_decode_matches_independent_encoder(
    columns, nrows, black_is_1, byte_align, data
):
    rows_px = [
        data.draw(st.lists(st.integers(0, 1), min_size=columns,
                           max_size=columns))
        for _ in range(nrows)
    ]
    encoded = g4_encode(rows_px, columns, byte_align=byte_align)
    out = ccitt_g4_decode(
        encoded, columns, rows=nrows,
        encoded_byte_align=byte_align, black_is_1=black_is_1,
    )
    assert out == _pack(rows_px, columns, black_is_1)


def test_fax_width_page_with_long_runs_round_trips():
    """1728-column rows exercise make-up codes (including chained ones
    via a 1700-pixel run) and the EOFB stop with rows=None."""
    import random

    rng = random.Random(14)
    rows_px = []
    for _ in range(12):
        row, pos = [], 0
        while pos < 1728:
            run = min(rng.choice([1, 3, 17, 64, 200, 800, 1700]),
                      1728 - pos)
            row.extend([rng.randint(0, 1)] * run)
            pos += run
        rows_px.append(row[:1728])
    encoded = g4_encode(rows_px, 1728)
    assert ccitt_g4_decode(encoded, 1728, rows=12) \
        == _pack(rows_px, 1728, False)
    # rows=None: decode to EOFB, same payload
    assert ccitt_g4_decode(encoded, 1728) == _pack(rows_px, 1728, False)


def test_malformed_inputs_return_none_never_raise():
    assert ccitt_g4_decode(b"", 8, rows=2) is None  # truncated
    assert ccitt_g4_decode(b"\x00\x00\x00", 8, rows=1) is None
    assert ccitt_g4_decode(b"\xff\xff", 0, rows=1) is None  # bad geometry
    # 2-D extension code (0000001 + 3 bits) is unsupported, not a crash
    bits = "0000001" + "111" + "0" * 6
    assert ccitt_g4_decode(
        int(bits, 2).to_bytes(2, "big"), 8, rows=1
    ) is None
    # declared more rows than the data codes
    one_line = g4_encode([[0] * 8], 8)
    assert ccitt_g4_decode(one_line, 8, rows=5) is None


# -- PDF integration ---------------------------------------------------------
def _g4_image_obj(rows_px, columns, **kw):
    data = g4_encode(rows_px, columns)
    parms = b"/DecodeParms <</K -1 /Columns %d /Rows %d>>" % (
        columns, len(rows_px),
    )
    return make_image_obj(
        data, width=columns, height=len(rows_px),
        colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" " + parms, **kw,
    )


def test_pdf_g4_image_round_trips_to_exact_pixels():
    """VERDICT r13 Next #4 done-condition: a G4 fixture round-trips to
    exact pixels via decode_png."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rows_px = [[0, 1, 1, 0, 0, 1, 0, 1], [1, 0, 0, 1, 1, 0, 1, 0]]
    doc = make_pdf_objs([TEXT_OBJ, _g4_image_obj(rows_px, 8)])
    (png,) = pdf_extract_images(doc)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    # 1-bit gray rescales 0 -> 0 (black), 1 -> 255 (white); CCITT black
    # pixels (1 in rows_px) decode to 0 bits under default /BlackIs1
    expected = bytes(0 if p else 255 for row in rows_px for p in row)
    assert raw == expected


def test_pdf_g4_no_longer_counted_undecodable_g3_still_is():
    """VERDICT r13 Next #4 done-condition: pdf_undecodable_image_streams
    stops counting G4-only files; the breadcrumb stays for
    indirect-DecodeParms CCITT and JBIG2."""
    from docling_api_spark.pipeline.textextract import (
        pdf_undecodable_image_streams,
    )

    g4 = make_pdf_objs([TEXT_OBJ, _g4_image_obj([[0, 1] * 4] * 2, 8)])
    assert pdf_undecodable_image_streams(g4) == {}

    hidden_parms = make_image_obj(
        b"\x00\x01", width=8, height=2, colorspace=b"/DeviceGray",
        bpc=1, filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 12 0 R",
    )
    assert pdf_undecodable_image_streams(
        make_pdf_objs([TEXT_OBJ, hidden_parms])
    ) == {"CCITTFaxDecode": 1}
    jbig2 = make_image_obj(
        b"\x00\x01", width=8, height=2, colorspace=b"/DeviceGray",
        bpc=1, filt=b"/JBIG2Decode",
    )
    assert pdf_undecodable_image_streams(make_pdf_objs([TEXT_OBJ, jbig2])) \
        == {"JBIG2Decode": 1}


def test_pdf_g4_corrupt_stream_is_skipped_never_mis_rendered():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    bad = make_image_obj(
        b"\x00\x00\x00\x00", width=8, height=2,
        colorspace=b"/DeviceGray", bpc=1, filt=b"/CCITTFaxDecode",
        extra=b" /DecodeParms <</K -1 /Columns 8 /Rows 2>>",
    )
    assert pdf_extract_images(make_pdf_objs([TEXT_OBJ, bad])) == []


def test_pdf_g4_blackis1_and_bytealign_parms_respected():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rows_px = [[1, 1, 0, 0, 1, 0, 1, 1]] * 3
    data = g4_encode(rows_px, 8, byte_align=True)
    obj = make_image_obj(
        data, width=8, height=3, colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode",
        extra=b" /DecodeParms <</K -1 /Columns 8 /Rows 3 /BlackIs1 true"
        b" /EncodedByteAlign true>>",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 3, 1)
    # BlackIs1 true: black pixels decode to 1 bits -> rescale to 255
    expected = bytes(255 if p else 0 for row in rows_px for p in row)
    assert raw == expected


def test_pdf_g4_defaults_to_1728_columns_without_parms():
    """A G4 stream with /K -1 but no /Columns uses the T.4 default 1728;
    geometry disagreement with the dict (/Width 8) must fail the raster
    length gate and skip — never emit a mis-shaped image."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    data = g4_encode([[0] * 1728], 1728)
    obj = make_image_obj(
        data, width=8, height=1, colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" /DecodeParms <</K -1 /Rows 1>>",
    )
    assert pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj])) == []


def test_flate_then_ccitt_chain_decodes():
    """[/FlateDecode /CCITTFaxDecode] is rejected (CCITT mid-chain
    output is raster bits) but [/ASCIIHexDecode /CCITTFaxDecode]-style
    chains with CCITT TERMINAL work: hex-wrap the G4 payload."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    rows_px = [[0, 1, 0, 1, 1, 0, 1, 0]] * 2
    data = g4_encode(rows_px, 8).hex().encode() + b">"
    obj = make_image_obj(
        data, width=8, height=2, colorspace=b"/DeviceGray", bpc=1,
        filt=b"[/ASCIIHexDecode /CCITTFaxDecode]",
        extra=b" /DecodeParms [null <</K -1 /Columns 8 /Rows 2>>]",
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    assert decode_png(png)[:3] == (8, 2, 1)


def test_smask_in_g4_merges_as_alpha():
    """A /SMask target in G4 is now recoverable: the parent RGB image
    gains an alpha channel decoded from the fax-compressed mask."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    pixels = bytes(range(2 * 2 * 3))
    parent = make_image_obj(
        zlib.compress(pixels), width=2, height=2,
        extra=b" /SMask 6 0 R",
    )
    mask_px = [[1, 0], [0, 1]]
    mask = (
        b"6 0 obj <</Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
        b"/Filter /CCITTFaxDecode "
        b"/DecodeParms <</K -1 /Columns 2 /Rows 2>> /Length %d>>"
        b"\nstream\n" % len(g4_encode(mask_px, 2))
        + g4_encode(mask_px, 2)
        + b"\nendstream endobj"
    )
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, parent, mask]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (2, 2, 4)  # RGBA
    # alpha: mask 1-pixels (black) -> 0 bits -> rescaled 0; 0 -> 255
    assert raw[3::4] == bytes([0, 255, 255, 0])

def test_pdf_g4_imagemask_fax_page_extracts():
    """The most common real-world shape of a fax-compressed scan: an
    /ImageMask true stencil (no ColorSpace) in CCITT G4. r14 recovers
    it as bilevel gray (0 samples paint -> black), and /Decode [1 0]
    inverts through the shared path."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    rows_px = [[1, 0, 1, 0, 0, 1, 1, 0], [0, 1, 0, 1, 1, 0, 0, 1]]
    data = g4_encode(rows_px, 8)
    obj = make_image_obj(
        data, width=8, height=2, colorspace=b"", bpc=1,
        filt=b"/CCITTFaxDecode",
        extra=b" /ImageMask true /DecodeParms <</K -1 /Columns 8 /Rows 2>>",
    ).replace(b"/ColorSpace  ", b"")  # drop the empty colorspace key
    doc = make_pdf_objs([TEXT_OBJ, obj])
    assert pdf_undecodable_image_streams(doc) == {}
    (png,) = pdf_extract_images(doc)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    expected = bytes(0 if p else 255 for row in rows_px for p in row)
    assert raw == expected

    inverted = make_image_obj(
        data, width=8, height=2, colorspace=b"", bpc=1,
        filt=b"/CCITTFaxDecode",
        extra=b" /ImageMask true /Decode [1 0] "
        b"/DecodeParms <</K -1 /Columns 8 /Rows 2>>",
    ).replace(b"/ColorSpace  ", b"")
    (png2,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, inverted]))
    assert decode_png(png2)[3] == bytes(
        255 if p else 0 for row in rows_px for p in row
    )


def test_pdf_flate_imagemask_line_art_extracts():
    import zlib as _z

    from docling_api_spark.pipeline.textextract import pdf_extract_images

    packed = bytes([0b10110010, 0b01001101])  # 2 rows of 8 1-bit samples
    obj = make_image_obj(
        _z.compress(packed), width=8, height=2, colorspace=b"", bpc=1,
        extra=b" /ImageMask true",
    ).replace(b"/ColorSpace  ", b"")
    (png,) = pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj]))
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    bits = [int(b) for byte in packed for b in f"{byte:08b}"]
    assert raw == bytes(255 * b for b in bits)


def test_pdf_imagemask_with_wrong_bpc_is_skipped():
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    obj = make_image_obj(
        b"\x00" * 16, width=8, height=2, colorspace=b"", bpc=8,
        filt=b"", extra=b" /ImageMask true",
    ).replace(b"/ColorSpace  ", b"")
    assert pdf_extract_images(make_pdf_objs([TEXT_OBJ, obj])) == []


# -- Group 3 one-dimensional (/K 0) ------------------------------------------
def g3_1d_encode(
    rows_px, columns, byte_align=False, eols=False, rtc=False
) -> bytes:
    """Independent T.4 1-D encoder: alternating white-first MH runs."""
    bits: list[str] = []
    for px in rows_px:
        if byte_align and (sum(map(len, bits)) % 8):
            bits.append("0" * (8 - sum(map(len, bits)) % 8))
        if eols:
            bits.append("000000000001")
        runs, colour, pos = [], 0, 0
        t = _transitions(px)
        bounds = t + [columns]
        for b in bounds:
            runs.append((b - pos, colour))
            pos, colour = b, colour ^ 1
        for run, col in runs:
            _emit_run(bits, run, col)
    if rtc:
        bits.append("000000000001" * 6)
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    data = int(s, 2).to_bytes(len(s) // 8, "big") if s else b""
    if data.endswith((b"\n", b"\r")):
        data += b"\x00"
    return data


def test_g3_1d_known_answer_all_white_line():
    """White run 8 = '10011', twice, padded: 10011100 11000000."""
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_1d_decode

    data = bytes([0b10011100, 0b11000000])
    assert ccitt_g3_1d_decode(data, columns=8, rows=2) == b"\xff\xff"


@settings(max_examples=80, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 8),
    st.booleans(),
    st.booleans(),
    st.booleans(),
    st.data(),
)
def test_fuzz_g3_1d_decode_matches_independent_encoder(
    columns, nrows, black_is_1, byte_align, eols, data
):
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_1d_decode

    rows_px = [
        data.draw(st.lists(st.integers(0, 1), min_size=columns,
                           max_size=columns))
        for _ in range(nrows)
    ]
    encoded = g3_1d_encode(
        rows_px, columns, byte_align=byte_align, eols=eols,
        rtc=data.draw(st.booleans()),
    )
    out = ccitt_g3_1d_decode(
        encoded, columns, rows=nrows,
        encoded_byte_align=byte_align, black_is_1=black_is_1,
    )
    assert out == _pack(rows_px, columns, black_is_1)


def test_g3_1d_long_runs_and_rtc_stop():
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_1d_decode

    rows_px = [[0] * 1000 + [1] * 500 + [0] * 228] * 3
    encoded = g3_1d_encode(rows_px, 1728, rtc=True)
    assert ccitt_g3_1d_decode(encoded, 1728, rows=3) \
        == _pack(rows_px, 1728, False)
    # rows=None: the RTC (6 EOLs) terminates the decode
    assert ccitt_g3_1d_decode(encoded, 1728) == _pack(rows_px, 1728, False)


def test_g3_1d_malformed_returns_none():
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_1d_decode

    assert ccitt_g3_1d_decode(b"", 8, rows=1) is None
    assert ccitt_g3_1d_decode(b"\xff\xff", 8, rows=1) is None  # overrun
    one = g3_1d_encode([[0] * 8], 8)
    assert ccitt_g3_1d_decode(one, 8, rows=3) is None  # truncated


def test_pdf_g3_1d_image_round_trips():
    """A /K 0 (and a K-absent, the spec default) CCITT stream decodes;
    the breadcrumb counter stops naming it."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    rows_px = [[0, 1, 1, 0, 1, 0, 0, 1], [1, 1, 0, 0, 0, 1, 1, 0]]
    expected = bytes(0 if p else 255 for row in rows_px for p in row)
    for parms in (
        b" /DecodeParms <</K 0 /Columns 8 /Rows 2>>",
        b" /DecodeParms <</Columns 8 /Rows 2>>",  # K absent -> 0
    ):
        obj = make_image_obj(
            g3_1d_encode(rows_px, 8), width=8, height=2,
            colorspace=b"/DeviceGray", bpc=1,
            filt=b"/CCITTFaxDecode", extra=parms,
        )
        doc = make_pdf_objs([TEXT_OBJ, obj])
        assert pdf_undecodable_image_streams(doc) == {}
        (png,) = pdf_extract_images(doc)
        assert decode_png(png) == (8, 2, 1, expected)


# -- adversarial hardening (r14 self-review) ---------------------------------
def test_g3_1d_long_fill_before_eol_never_raises():
    """T.4 allows arbitrary zero-fill before an EOL; ~25+ fill bits used
    to underflow the bit reader's 4-byte peek window and raise — the
    total-function contract says malformed or extreme input returns
    None/decodes, never raises."""
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_1d_decode

    # 40 fill zeros + EOL + white-8 code, one line
    bits = "0" * 40 + "000000000001" + "10011"
    bits += "0" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    assert ccitt_g3_1d_decode(data, columns=8, rows=1) == b"\xff"
    # pathological: kilobytes of zeros, no EOL, no line — returns, no raise
    assert ccitt_g3_1d_decode(b"\x00" * 4096, columns=8, rows=1) is None


def test_unknown_rows_output_is_bounded():
    """With /Rows and /Height both absent, an all-V0 bitstream codes one
    all-white row per BIT: a few KB of 0xff with a wide /Columns must
    not allocate gigabytes. The unknown-rows decode caps total output
    at 64 MiB."""
    from docling_api_spark.pipeline.ccittg4 import ccitt_g4_decode

    out = ccitt_g4_decode(b"\xff" * 4096, columns=1 << 20)
    assert out is not None
    assert len(out) <= 64 << 20


# -- Group 3 mixed two-dimensional (/K > 0) ----------------------------------
def _encode_2d_line(px, ref, columns) -> list[str]:
    """One 2-D coded line (shared mode logic with the G4 encoder)."""
    bits: list[str] = []
    cur = _transitions(px)
    a0, colour, ci = -1, 0, 0
    while a0 < columns:
        a1 = cur[ci] if ci < len(cur) else columns
        bi = 0
        while bi < len(ref) and ref[bi] <= a0:
            bi += 1
        if a0 < 0:
            bi = 0
        if (bi & 1) != colour:
            bi += 1
        b1 = ref[bi] if bi < len(ref) else columns
        b2 = ref[bi + 1] if bi + 1 < len(ref) else columns
        if b2 < a1:
            bits.append(_ENC_MODE[("p",)])
            a0 = b2
        elif abs(a1 - b1) <= 3:
            bits.append(_ENC_MODE[("v", a1 - b1)])
            a0, colour, ci = a1, colour ^ 1, ci + 1
        else:
            a2 = cur[ci + 1] if ci + 1 < len(cur) else columns
            start = a0 if a0 > 0 else 0
            bits.append(_ENC_MODE[("h",)])
            _emit_run(bits, a1 - start, colour)
            _emit_run(bits, a2 - a1, colour ^ 1)
            a0, ci = a2, ci + 2
    return bits


def g3_2d_encode(rows_px, columns, k=4, byte_align=False, rtc=False):
    """Independent T.4 mixed 2-D encoder: every line framed EOL + tag;
    a 1-D line every k-th line (line 0 is always 1-D), 2-D between."""
    bits: list[str] = []
    ref = [columns, columns]
    for y, px in enumerate(rows_px):
        if byte_align and (sum(map(len, bits)) % 8):
            bits.append("0" * (8 - sum(map(len, bits)) % 8))
        one_d = (y % k) == 0
        bits.append("000000000001" + ("1" if one_d else "0"))
        if one_d:
            pos, colour = 0, 0
            for b in _transitions(px) + [columns]:
                _emit_run(bits, b - pos, colour)
                pos, colour = b, colour ^ 1
        else:
            bits.extend(_encode_2d_line(px, ref, columns))
        ref = _transitions(px) + [columns, columns]
    if rtc:
        bits.append("0000000000011" * 6)
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    data = int(s, 2).to_bytes(len(s) // 8, "big") if s else b""
    if data.endswith((b"\n", b"\r")):
        data += b"\x00"
    return data


@settings(max_examples=80, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 9),
    st.integers(1, 4),
    st.booleans(),
    st.booleans(),
    st.data(),
)
def test_fuzz_g3_2d_decode_matches_independent_encoder(
    columns, nrows, k, black_is_1, rtc, data
):
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_2d_decode

    rows_px = [
        data.draw(st.lists(st.integers(0, 1), min_size=columns,
                           max_size=columns))
        for _ in range(nrows)
    ]
    encoded = g3_2d_encode(rows_px, columns, k=k, rtc=rtc)
    out = ccitt_g3_2d_decode(
        encoded, columns, rows=nrows, black_is_1=black_is_1,
    )
    assert out == _pack(rows_px, columns, black_is_1)


def test_g3_2d_rtc_stops_unbounded_decode():
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_2d_decode

    rows_px = [[0, 1] * 4, [1, 0] * 4, [0, 0, 1, 1] * 2]
    encoded = g3_2d_encode(rows_px, 8, k=2, rtc=True)
    assert ccitt_g3_2d_decode(encoded, 8) == _pack(rows_px, 8, False)


def test_g3_2d_requires_eol_framing():
    """A K>0 stream with no EOLs has no per-line mode tags: undecodable
    by construction, returns None (and keeps the breadcrumb path in the
    conversion layer for the corrupt-stream case)."""
    from docling_api_spark.pipeline.ccittg4 import ccitt_g3_2d_decode

    unframed = g3_1d_encode([[0] * 8], 8)  # MH line, no EOL
    assert ccitt_g3_2d_decode(unframed, 8, rows=1) is None
    assert ccitt_g3_2d_decode(b"", 8, rows=1) is None
    one = g3_2d_encode([[0] * 8], 8)
    assert ccitt_g3_2d_decode(one, 8, rows=3) is None  # truncated


def test_pdf_g3_2d_image_round_trips_and_uncounted():
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    rows_px = [[0, 1, 1, 0, 1, 0, 0, 1], [1, 1, 0, 0, 0, 1, 1, 0],
               [0, 0, 1, 1, 1, 0, 0, 1]]
    obj = make_image_obj(
        g3_2d_encode(rows_px, 8, k=2), width=8, height=3,
        colorspace=b"/DeviceGray", bpc=1, filt=b"/CCITTFaxDecode",
        extra=b" /DecodeParms <</K 2 /Columns 8 /Rows 3>>",
    )
    doc = make_pdf_objs([TEXT_OBJ, obj])
    assert pdf_undecodable_image_streams(doc) == {}
    (png,) = pdf_extract_images(doc)
    expected = bytes(0 if p else 255 for row in rows_px for p in row)
    assert decode_png(png) == (8, 3, 1, expected)


def test_rows_known_geometry_cap_blocks_forged_dimensions():
    """A rows-KNOWN decode with forged wide /Columns and huge /Rows must
    refuse up front (256 MiB declared-geometry cap) instead of building
    gigabytes of rows from a tiny all-V0 payload."""
    from docling_api_spark.pipeline.ccittg4 import (
        ccitt_g3_1d_decode,
        ccitt_g3_2d_decode,
        ccitt_g4_decode,
    )

    for fn in (ccitt_g4_decode, ccitt_g3_1d_decode, ccitt_g3_2d_decode):
        assert fn(b"\xff" * 4096, columns=1 << 20, rows=50_000) is None
    # a realistic large scan (1728 x 2200 = ~475 KB output) stays
    # accepted: 2200 V0 bits decode a full all-white fax page
    out = ccitt_g4_decode(bytes([0xFF] * 275), columns=1728, rows=2200)
    assert out == _pack([[0] * 1728] * 2200, 1728, False)


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_structured_adversarial_pdf_never_raises(data):
    """Total-function fuzz with STRUCTURE (plain-random-bytes fuzz in
    test_properties.py rarely forms a stream dict): random image
    XObjects with adversarial dict values — huge/negative geometry,
    forged CCITT parms, random filters, random payloads — through the
    whole extraction surface. Nothing may raise; outputs are lists."""
    from docling_api_spark.pipeline.convert import LightweightConverter
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_to_markdown,
        pdf_undecodable_image_streams,
    )

    ints = st.one_of(
        st.integers(-5, 40),
        st.integers(200, 2000),
        st.sampled_from([0, 1, 8, 255, 256, 1728, 10**6, 10**9, -(10**9)]),
    )
    objs = []
    for i in range(data.draw(st.integers(1, 3))):
        d = b"<</Type /XObject /Subtype /Image"
        d += b" /Width %d" % data.draw(ints)
        d += b" /Height %d" % data.draw(ints)
        d += b" /BitsPerComponent %d" % data.draw(ints)
        cs = data.draw(st.sampled_from([
            b" /ColorSpace /DeviceGray", b" /ColorSpace /DeviceRGB",
            b" /ColorSpace /DeviceCMYK", b" /ImageMask true",
            b" /ColorSpace [/Indexed /DeviceRGB %d <001122>]"
            % data.draw(ints),
            b"",
        ]))
        d += cs
        filt = data.draw(st.sampled_from([
            b"", b" /Filter /FlateDecode", b" /Filter /CCITTFaxDecode",
            b" /Filter /RunLengthDecode", b" /Filter /LZWDecode",
            b" /Filter [/ASCIIHexDecode /CCITTFaxDecode]",
        ]))
        d += filt
        if b"CCITT" in filt or data.draw(st.booleans()):
            d += (
                b" /DecodeParms <</K %d /Columns %d /Rows %d"
                % (data.draw(ints), data.draw(ints), data.draw(ints))
                + data.draw(st.sampled_from([
                    b"", b" /BlackIs1 true", b" /EncodedByteAlign true",
                    b" /Predictor %d" % data.draw(ints),
                ]))
                + b">>"
            )
        payload = data.draw(st.binary(max_size=256))
        if data.draw(st.booleans()):
            import zlib as _z

            payload = _z.compress(payload)
        objs.append(
            b"%d 0 obj " % (i + 5) + d
            + b" /Length %d>>\nstream\n" % len(payload)
            + payload + b"\nendstream endobj"
        )
    pdf = make_pdf_objs(objs)
    assert isinstance(pdf_extract_images(pdf), list)
    assert isinstance(pdf_undecodable_image_streams(pdf), dict)
    pdf_to_markdown(pdf)
    res = LightweightConverter().convert("fuzz.pdf", pdf)
    assert set(res) == {"filename", "markdown", "images", "error"}


# -- r15: /DecodeParms resolution (VERDICT r14 Next #2, ADVICE r14 #1-#3) ----
def test_indirect_decodeparms_g4_round_trips():
    """VERDICT r14 Next #2 done-condition: a G4 image whose /DecodeParms
    is an `N G R` reference to a separate object decodes to exact
    pixels, and the breadcrumb counter stops naming it."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    rows_px = [[0, 1, 1, 0, 0, 1, 0, 1], [1, 0, 0, 1, 1, 0, 1, 0]]
    parms_obj = b"7 0 obj <</K -1 /Columns 8 /Rows 2>> endobj"
    img = make_image_obj(
        g4_encode(rows_px, 8), width=8, height=2,
        colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 7 0 R",
    )
    doc = make_pdf_objs([TEXT_OBJ, img, parms_obj])
    assert pdf_undecodable_image_streams(doc) == {}
    (png,) = pdf_extract_images(doc)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    assert raw == bytes(0 if p else 255 for row in rows_px for p in row)


def test_decodeparms_array_matches_ccitt_chain_position():
    """ADVICE r14 #2: in a [/FlateDecode /CCITTFaxDecode] chain with a
    /DecodeParms array, the CCITT geometry must come from the entry at
    the CCITT position — the Flate slot's /Columns (a predictor
    parameter) appearing FIRST in the dict must not win."""
    from docling_api_spark.pipeline.textextract import (
        PdfFile,
        _ccitt_parms,
        pdf_extract_images,
    )

    rows_px = [[0, 1, 1, 0, 0, 1, 0, 1], [1, 0, 0, 1, 1, 0, 1, 0]]
    payload = zlib.compress(g4_encode(rows_px, 8))
    img = make_image_obj(
        payload, width=8, height=2, colorspace=b"/DeviceGray", bpc=1,
        filt=b"[/FlateDecode /CCITTFaxDecode]",
        extra=b" /DecodeParms [<</Columns 999>>"
              b" <</K -1 /Columns 8 /Rows 2>>]",
    )
    doc = make_pdf_objs([TEXT_OBJ, img])
    d = img.split(b"\nstream\n")[0]
    assert _ccitt_parms(d, PdfFile(doc)) == (-1, 8, 2, False, False)
    (png,) = pdf_extract_images(doc)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    assert raw == bytes(0 if p else 255 for row in rows_px for p in row)


def test_decodeparms_array_with_null_and_indirect_element():
    """The chain-position match follows the spec's element forms: `null`
    for a parameterless filter and an `N G R` reference in the CCITT
    slot, resolved through `PdfFile`'s object table."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    rows_px = [[1, 0, 1, 0, 1, 0, 1, 0], [0, 0, 1, 1, 0, 0, 1, 1]]
    payload = zlib.compress(g4_encode(rows_px, 8))
    parms_obj = b"9 0 obj <</K -1 /Columns 8 /Rows 2>> endobj"
    img = make_image_obj(
        payload, width=8, height=2, colorspace=b"/DeviceGray", bpc=1,
        filt=b"[/FlateDecode /CCITTFaxDecode]",
        extra=b" /DecodeParms [null 9 0 R]",
    )
    doc = make_pdf_objs([TEXT_OBJ, img, parms_obj])
    assert pdf_undecodable_image_streams(doc) == {}
    (png,) = pdf_extract_images(doc)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    assert raw == bytes(0 if p else 255 for row in rows_px for p in row)


def test_indirect_decodeparms_to_missing_object_stays_breadcrumbed():
    """An `N G R` /DecodeParms whose target object does not exist keeps
    the don't-guess contract: no decode, counter names the stream."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    img = make_image_obj(
        g4_encode([[0, 1] * 4] * 2, 8), width=8, height=2,
        colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 42 0 R",
    )
    doc = make_pdf_objs([TEXT_OBJ, img])
    assert pdf_undecodable_image_streams(doc) == {"CCITTFaxDecode": 1}
    assert pdf_extract_images(doc) == []


def test_midchain_ccitt_keeps_its_breadcrumb():
    """ADVICE r14 #3: _decode_stream only decodes CCITT as the TERMINAL
    filter, so a malformed [/CCITTFaxDecode /FlateDecode] chain with
    inline parms must stay COUNTED undecodable instead of being skipped
    by the counter yet silently dropped by the decoder."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    img = make_image_obj(
        zlib.compress(g4_encode([[0, 1] * 4] * 2, 8)), width=8, height=2,
        colorspace=b"/DeviceGray", bpc=1,
        filt=b"[/CCITTFaxDecode /FlateDecode]",
        extra=b" /DecodeParms [<</K -1 /Columns 8 /Rows 2>> null]",
    )
    doc = make_pdf_objs([TEXT_OBJ, img])
    assert pdf_extract_images(doc) == []  # rejected: CCITT mid-chain
    assert pdf_undecodable_image_streams(doc) == {"CCITTFaxDecode": 1}


def test_vertical_mode_enforces_monotonic_changing_elements():
    """ADVICE r14 #1: a corrupt vertical code yielding a1 <= a0 must
    return None — an unsorted changing-element list feeds the next
    line's bisect-based b1 lookup garbage and the decoder would emit a
    mis-rendered raster instead of the contractual None."""
    from docling_api_spark.pipeline.ccittg4 import _BitReader, _decode_line

    def line_bits(codes: list[str]) -> _BitReader:
        s = "".join(codes) + "0" * 64  # padding so bits never run out
        s += "0" * (-len(s) % 8)
        return _BitReader(int(s, 2).to_bytes(len(s) // 8, "big"))

    ref = [2, 4, 8, 8]
    v0, vl3, vr1 = _ENC_MODE[("v", 0)], _ENC_MODE[("v", -3)], \
        _ENC_MODE[("v", 1)]
    # V0 puts a1 at b1=2; the following VL3 computes a1 = b1(4) - 3 = 1
    # <= a0=2: corrupt, must reject...
    assert _decode_line(line_bits([v0, vl3, v0, v0, v0]), ref, 8) is None
    # ...while the SAME stream with a monotonic code in that slot
    # decodes — proving the rejection fired on monotonicity, not on an
    # otherwise-malformed stream
    assert _decode_line(line_bits([v0, vr1, v0]), ref, 8) == [2, 5, 8]


def test_indirect_decodeparms_inside_objstm_resolves():
    """PDF 1.5+ writers pack parameter dictionaries into compressed
    /Type /ObjStm streams; the r15 resolver follows the indirect
    /DecodeParms reference INTO the object stream (§7.5.7 layout: /N
    offset pairs, bodies at /First + offset)."""
    import zlib

    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    rows_px = [[0, 1, 1, 0, 0, 1, 0, 1], [1, 0, 0, 1, 1, 0, 1, 0]]
    # object stream holding two objects: a decoy dict (obj 6) and the
    # CCITT parms dict (obj 7)
    body6 = b"<</Decoy true>>"
    body7 = b"<</K -1 /Columns 8 /Rows 2>>"
    header = b"6 0 7 %d" % len(body6)
    payload = zlib.compress(header + b" " + body6 + body7)
    # note: /First must point past the header; bodies are concatenated
    first = len(header) + 1
    objstm = (
        b"8 0 obj <</Type /ObjStm /N 2 /First %d /Filter /FlateDecode "
        b"/Length %d>>\nstream\n" % (first, len(payload))
        + payload + b"\nendstream endobj"
    )
    img = make_image_obj(
        g4_encode(rows_px, 8), width=8, height=2,
        colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 7 0 R",
    )
    doc = make_pdf_objs([TEXT_OBJ, img, objstm])
    assert pdf_undecodable_image_streams(doc) == {}
    (png,) = pdf_extract_images(doc)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (8, 2, 1)
    assert raw == bytes(0 if p else 255 for row in rows_px for p in row)


def test_objstm_that_reaches_itself_resolves_to_nothing():
    """An /ObjStm whose own CCITT /DecodeParms point into itself cannot be
    unpacked: the image that needs those parms keeps its breadcrumb, and
    neither entry point recurses without end."""
    from docling_api_spark.pipeline.textextract import (
        pdf_extract_images,
        pdf_undecodable_image_streams,
    )

    g4 = g4_encode([[0, 1] * 4] * 2, 8)
    objstm = (
        b"8 0 obj <</Type /ObjStm /N 1 /First 4 /Filter /CCITTFaxDecode "
        b"/DecodeParms 7 0 R /Length %d>>\nstream\n" % len(g4)
        + g4 + b"\nendstream endobj"
    )
    img = make_image_obj(
        g4, width=8, height=2, colorspace=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode", extra=b" /DecodeParms 7 0 R",
    )
    doc = make_pdf_objs([TEXT_OBJ, img, objstm])
    assert pdf_undecodable_image_streams(doc) == {"CCITTFaxDecode": 1}
    assert pdf_extract_images(doc) == []
