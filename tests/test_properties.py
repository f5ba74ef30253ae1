"""Property-based robustness: the pure pipeline helpers must be total —
no input of any shape may raise — and must uphold their structural
invariants. (The reference ships no property tests; hypothesis closes that
gap for the executor-side code where one poison byte string would
otherwise kill a task.)"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_api_spark.functions.encodings import transcode_csv_utf8
from docling_api_spark.functions.formats import FORMATS, classify_format
from docling_api_spark.functions.markdown_images import (
    IMAGE_PLACEHOLDER,
    DocElement,
    splice_images,
)
from docling_api_spark.pipeline.convert import LightweightConverter

filenames = st.one_of(
    st.none(),
    st.text(max_size=40),
    st.from_regex(r"[A-Za-z0-9._\-]{0,20}(\.[A-Za-z0-9]{1,6})?", fullmatch=True),
)


@given(content=st.binary(max_size=2048), filename=filenames)
@settings(max_examples=300, deadline=None)
def test_classify_format_is_total(content, filename):
    fmt = classify_format(content, filename)
    assert fmt is None or fmt in FORMATS


@given(content=st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_csv_transcode_never_raises_and_roundtrips_utf8(content):
    out, err = transcode_csv_utf8(content)
    if err is None:
        out.decode("utf-8")  # must be valid utf-8 by contract
    else:
        assert out == content  # original bytes returned on failure


@given(content=st.binary(max_size=4096), filename=filenames)
@settings(max_examples=150, deadline=None)
def test_converter_upholds_result_contract(content, filename):
    result = LightweightConverter().convert(filename or "unnamed", content)
    assert set(result) == {"filename", "markdown", "images", "error"}
    # exactly one of markdown/error set (reference schema contract)
    assert (result["markdown"] is None) != (result["error"] is None)
    assert isinstance(result["images"], list)


elements = st.lists(
    st.builds(
        DocElement,
        kind=st.sampled_from(["table", "picture"]),
        image=st.one_of(st.none(), st.binary(min_size=1, max_size=16)),
        table_markdown=st.one_of(st.none(), st.text(max_size=30)),
    ),
    max_size=8,
)


@given(markdown=st.text(max_size=200), els=elements)
@settings(max_examples=300, deadline=None)
def test_splice_invariants(markdown, els):
    out, images = splice_images(markdown, els)
    # every element WITH an image is emitted, in order, with per-type counters
    with_images = [e for e in els if e.image is not None]
    assert len(images) == len(with_images)
    counters = {"table": 0, "picture": 0}
    for el, img in zip(with_images, images):
        counters[el.kind] += 1
        assert img["type"] == el.kind
        assert img["filename"] == f"{el.kind}-{counters[el.kind]}.png"
        assert img["image"] == el.image
    # imageless elements never contribute a name
    names_in_out = [i["filename"] for i in images]
    assert len(set(names_in_out)) == len(names_in_out)


@given(n=st.integers(min_value=0, max_value=6))
@settings(max_examples=20, deadline=None)
def test_splice_replaces_placeholders_in_order(n):
    markdown = "\n\n".join([IMAGE_PLACEHOLDER] * n)
    els = [DocElement("picture", image=b"x") for _ in range(n)]
    out, images = splice_images(markdown, els)
    assert IMAGE_PLACEHOLDER not in out
    for i in range(1, n + 1):
        assert f"picture-{i}.png" in out


# ---------------------------------------------------------------------------
# SimHash chunked-LSH pigeonhole (operators/dedup.py q44)
# ---------------------------------------------------------------------------
@given(
    a=st.integers(min_value=0, max_value=(1 << 60) - 1),
    flips=st.lists(st.integers(min_value=0, max_value=59), max_size=5, unique=True),
)
@settings(max_examples=300, deadline=None)
def test_simhash_chunking_never_misses_a_pair_within_budget(a, flips):
    """Pigeonhole: any pair within the Hamming budget (≤5 bit flips on a
    60-bit fingerprint) must share at least one of the 6 ten-bit chunks —
    the candidate-generation recall guarantee q44's equi-join relies on."""
    from docling_api_spark.operators.dedup import (
        SIMHASH_CHUNK_BITS,
        SIMHASH_CHUNKS,
        _CHUNK_MASK,
    )

    b = a
    for bit in flips:
        b ^= 1 << bit
    chunks_a = [(a >> (SIMHASH_CHUNK_BITS * i)) & _CHUNK_MASK for i in range(SIMHASH_CHUNKS)]
    chunks_b = [(b >> (SIMHASH_CHUNK_BITS * i)) & _CHUNK_MASK for i in range(SIMHASH_CHUNKS)]
    assert any(x == y for x, y in zip(chunks_a, chunks_b))


# ---------------------------------------------------------------------------
# Affine MinHash permutations are bijections (operators/dedup.py q43)
# ---------------------------------------------------------------------------
def test_affine_minhash_multipliers_are_odd_and_bounded():
    """Odd multiplier < 2^31 ⇒ x -> (A*x+B) mod 2^32 is a true permutation
    of the 32-bit space AND A*x never overflows a signed 64-bit int —
    the two properties the q43 family needs on both engines."""
    from docling_api_spark.operators.dedup import _MH_A, _MH_B

    assert len(set(_MH_A)) == len(_MH_A)  # independent permutations
    for coef in _MH_A:
        assert coef % 2 == 1 and 0 < coef < 2**31
    for coef in _MH_B:
        assert 0 <= coef < 2**31
    # spot-check bijectivity on a small modulus-preserving sample
    seen = {(_MH_A[0] * x + _MH_B[0]) % (1 << 32) for x in range(4096)}
    assert len(seen) == 4096


# ---------------------------------------------------------------------------
# Morton interleave is a bijection with block locality (operators/layout.py)
# ---------------------------------------------------------------------------
def _morton_py(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_code_is_bijective_with_block_locality():
    """The q59 Morton key must (a) be a bijection of the 16-bit space — no
    two (x, y) cells collide — and (b) map each 256-key block to exactly a
    16×16 rectangle, the property the layout query's oracle profiles."""
    codes = {}
    for x in range(256):
        for y in range(256):
            codes[_morton_py(x, y)] = (x, y)
    assert len(codes) == 65536  # bijection
    for bucket in (0, 1, 37, 255):
        xs = {codes[z][0] for z in range(bucket * 256, (bucket + 1) * 256)}
        ys = {codes[z][1] for z in range(bucket * 256, (bucket + 1) * 256)}
        assert max(xs) - min(xs) == 15 and min(xs) % 16 == 0
        assert max(ys) - min(ys) == 15 and min(ys) % 16 == 0


@given(st.integers(0, 255), st.integers(0, 255))
@settings(max_examples=200, deadline=None)
def test_morton_sql_formula_matches_reference_interleave(x, y):
    """The generated SQL arithmetic (shift/and/add) must equal the bitwise
    reference implementation for every input — evaluated in Python, since
    the expression is plain integer math identical in all three runtimes."""
    from docling_api_spark.operators.layout import _morton_sql

    sql = _morton_sql("X", "Y").replace("X", str(x)).replace("Y", str(y))
    assert eval(sql) == _morton_py(x, y)


# ---------------------------------------------------------------------------
# Batched Misra-Gries: recall guarantee under random streams and batchings
# ---------------------------------------------------------------------------
@given(data=st.data())
@settings(max_examples=25, deadline=None)
def test_mg_recall_under_random_streams(data):
    """For any stream and any batching, every token with frequency
    > n/(capacity+1) must survive the per-partition MG reduction."""
    import pandas as pd

    from docling_api_spark.operators import textstats

    # small capacity to make the bound actually bite
    orig = textstats._MG_CAPACITY
    textstats._MG_CAPACITY = 16
    try:
        toks = data.draw(
            st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=4000)
        )
        batch_size = data.draw(st.integers(min_value=1, max_value=len(toks)))
        toks_s = [f"t{t}" for t in toks]
        batches = [
            pd.DataFrame({"token": toks_s[i : i + batch_size]})
            for i in range(0, len(toks_s), batch_size)
        ]
        (out,) = list(textstats._mg_candidates(iter(batches)))
        survivors = set(out["token"])
        n = len(toks_s)
        from collections import Counter

        for tok, freq in Counter(toks_s).items():
            if freq > n / (16 + 1):
                assert tok in survivors, (tok, freq, n)
    finally:
        textstats._MG_CAPACITY = orig


# ---------------------------------------------------------------------------
# Skyline prune-and-verify: candidate set covers every true dominator
# ---------------------------------------------------------------------------
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=60
    )
)
@settings(max_examples=60, deadline=None)
def test_skyline_prune_logic_matches_bruteforce(pts):
    """Pure-python replay of q126's prune rule vs the quadratic answer:
    a point survives pruning iff its price equals the prefix-min at its
    size — and the pruned set must contain the whole true skyline AND a
    dominator for every dominated point."""
    import collections

    per_size = collections.defaultdict(list)
    for p, s in pts:
        per_size[s].append(p)
    sizes = sorted(per_size)
    prefix_min, run = {}, None
    for s in sizes:
        m = min(per_size[s])
        run = m if run is None else min(run, m)
        prefix_min[s] = run

    cand = [(p, s) for (p, s) in pts if p <= prefix_min[s]]

    def dominated(a, others):
        return any(
            b[0] <= a[0] and b[1] <= a[1] and (b[0] < a[0] or b[1] < a[1])
            for b in others
        )

    true_front = [a for a in pts if not dominated(a, pts)]
    # every true-front point survives pruning
    for a in true_front:
        assert a in cand
    # verify step on candidates alone reproduces the true front (multiset)
    front_from_cand = [a for a in cand if not dominated(a, cand)]
    assert sorted(front_from_cand) == sorted(true_front)


# ---------------------------------------------------------------------------
# textextract (r11 stdlib T1 backend): pdf extraction totality + round-trip
# ---------------------------------------------------------------------------
_PDF_TEXT = st.text(
    alphabet=st.sampled_from(list("abcdefghijklmnopqrstuvwxyz ().,\\-")),
    max_size=120,
)


@given(body=st.binary(max_size=4096))
@settings(max_examples=300, deadline=None)
def test_pdf_extraction_is_total_behind_the_header(body):
    """Contract (pipeline/textextract.py): with a %PDF- header the
    extractor must return a str for ANY byte soup — zlib failures are
    skipped, hex/literal decoding is total — because one poison document
    in a mapInPandas batch must become an error/empty row, not a dead
    task."""
    from docling_api_spark.pipeline.textextract import pdf_to_markdown

    out = pdf_to_markdown(b"%PDF-1.4\n" + body)
    assert isinstance(out, str)


# grammar-directed fuzz for the r12 positional table pass: random
# interleavings of positioning operators, show ops, junk names and
# numbers — guaranteed to clear the cheap Tm/Td pre-check and run the
# span replay + clusterer, unlike uniform byte soup
_POS_TOKENS = st.lists(
    st.sampled_from([
        b"1 0 0 1 72 700 Tm ", b"0 1 -1 0 10 10 Tm ", b"12 -14 Td ",
        b"0 -14 TD ", b"14 TL ", b"T* ", b"(cell) Tj ", b"(a) ' ",
        b"1 2 (b) \" ", b"[(x) -200 (y)] TJ ", b"/F1 9 Tf ", b"0.5 Tc ",
        b"72 Tz ", b"<414243> Tj ", b"( ) Tj ", b"99999999 0 Td ",
        b"-0.001 0.001 Td ", b"BT ", b"ET ", b"garbage ", b"\x00\xff ",
    ]),
    min_size=8, max_size=60,
)


@given(toks=_POS_TOKENS)
@settings(max_examples=300, deadline=None)
def test_positional_table_pass_is_total(toks):
    """The r12 positional replay + row/column clusterer must be total
    over adversarial operator streams (unbalanced BT/ET, rotated
    matrices, huge/tiny translations, stale operands, NULs): one poison
    stream must yield a str via fallback, never a dead task."""
    from docling_api_spark.pipeline.textextract import (
        _extract_positioned_spans,
        pdf_to_markdown,
    )

    stream = b"BT " + b"".join(toks) + b" ET"
    spans = _extract_positioned_spans(stream)
    assert spans is None or isinstance(spans, list)
    pdf = (
        b"%PDF-1.4\n4 0 obj <</Length " + str(len(stream)).encode()
        + b">>\nstream\n" + stream + b"\nendstream endobj\n%%EOF\n"
    )
    assert isinstance(pdf_to_markdown(pdf), str)


def _pdf_with_literal(text: str) -> bytes:
    esc = text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    return (
        "%PDF-1.4\n<</Length 0>>\nstream\nBT ("
        + esc
        + ") Tj ET\nendstream\n%%EOF"
    ).encode("latin-1")


def _pdf_with_hex(text: str) -> bytes:
    return (
        "%PDF-1.4\n<</Length 0>>\nstream\nBT <"
        + text.encode("latin-1").hex()
        + "> Tj ET\nendstream\n%%EOF"
    ).encode("ascii")


@given(text=_PDF_TEXT)
@settings(max_examples=200, deadline=None)
def test_pdf_literal_string_roundtrip(text):
    """Any printable text shown via an escaped literal-string Tj comes
    back exactly (modulo the flush strip) — parens and backslashes
    included, the escape rules the synthetic corpus never exercises."""
    from docling_api_spark.pipeline.textextract import pdf_to_markdown

    assert pdf_to_markdown(_pdf_with_literal(text)) == text.strip()


@given(text=_PDF_TEXT)
@settings(max_examples=200, deadline=None)
def test_pdf_hex_string_roundtrip(text):
    """Hex-string Tj round-trip — the exact shape the q72 corpus pdf
    member synthesizes (operators/pipeline_queries.py), so a tokenizer
    regression fails here before it fails the driver's q72 hash."""
    from docling_api_spark.pipeline.textextract import pdf_to_markdown

    assert pdf_to_markdown(_pdf_with_hex(text)) == text.strip()


# ---------------------------------------------------------------------------
# textextract (r11b): embedded-image extraction totality + PNG round-trip
# ---------------------------------------------------------------------------
@given(body=st.binary(max_size=4096))
@settings(max_examples=300, deadline=None)
def test_pdf_image_extraction_is_total(body):
    """pdf_extract_images must return a list of bytes for ANY byte soup —
    anomalous stream objects are skipped, never raised (same totality
    contract as the text extractor: a poison document in a mapInPandas
    batch becomes an empty/error row, not a dead task)."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    out = pdf_extract_images(b"%PDF-1.4\n" + body)
    assert isinstance(out, list) and all(isinstance(b, bytes) for b in out)


@st.composite
def _raster(draw):
    width = draw(st.integers(min_value=1, max_value=6))
    height = draw(st.integers(min_value=1, max_value=6))
    channels = draw(st.sampled_from([1, 3]))
    pixels = draw(
        st.binary(
            min_size=width * height * channels,
            max_size=width * height * channels,
        )
    )
    return width, height, channels, pixels


@given(r=_raster())
@settings(max_examples=150, deadline=None)
def test_pdf_flate_raster_png_roundtrip(r):
    """Any 8-bit Gray/RGB raster embedded as a FlateDecode image XObject
    comes back as a PNG whose decoded scanlines equal the input pixels —
    the stdlib PNG encoder is verified per-chunk (CRCs) by the decoder in
    tests/test_textextract.py."""
    import zlib

    from docling_api_spark.pipeline.textextract import pdf_extract_images
    from tests.test_textextract import decode_png, make_image_obj, make_pdf_objs

    width, height, channels, pixels = r
    cs = b"/DeviceGray" if channels == 1 else b"/DeviceRGB"
    pdf = make_pdf_objs(
        [
            make_image_obj(
                zlib.compress(pixels), width=width, height=height, colorspace=cs
            )
        ]
    )
    (png,) = pdf_extract_images(pdf)
    assert decode_png(png) == (width, height, channels, pixels)


@given(
    payloads=st.lists(st.binary(min_size=1, max_size=64), max_size=5),
    texts=st.lists(
        st.text(alphabet=st.sampled_from(list("abc xyz")), min_size=1, max_size=20)
        .filter(str.strip),
        min_size=1,
        max_size=5,
    ),
)
@settings(max_examples=100, deadline=None)
def test_docx_media_splice_roundtrip(payloads, texts):
    """Arbitrary media payloads referenced from arbitrary body paragraphs
    come back byte-identical, in document order, with one spliced
    picture-N.png name per payload at the paragraph's position."""
    import zipfile
    from io import BytesIO

    paras, rels = [], []
    for i, t in enumerate(texts):
        paras.append(f"<w:p><w:r><w:t>{t}</w:t></w:r></w:p>")
    for j in range(len(payloads)):
        paras.append(
            f'<w:p><w:r><w:drawing><a:blip r:embed="rId{j}"/></w:drawing>'
            "</w:r></w:p>"
        )
        rels.append(f'<Relationship Id="rId{j}" Type="x" Target="media/m{j}"/>')
    doc = (
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main" xmlns:a="http://schemas.openxml'
        'formats.org/drawingml/2006/main" xmlns:r="http://schemas.openxml'
        'formats.org/officeDocument/2006/relationships"><w:body>'
        + "".join(paras)
        + "</w:body></w:document>"
    )
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
        zf.writestr(
            "word/_rels/document.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships">' + "".join(rels) + "</Relationships>",
        )
        for j, p in enumerate(payloads):
            zf.writestr(f"word/media/m{j}", p)
    r = LightweightConverter().convert("d.docx", buf.getvalue())
    assert r["error"] is None
    assert [i["image"] for i in r["images"]] == payloads
    lines = r["markdown"].splitlines()
    assert lines[: len(texts)] == texts
    assert lines[len(texts) :] == [
        f"picture-{j + 1}.png" for j in range(len(payloads))
    ]


@given(body=st.binary(max_size=1024))
@settings(max_examples=300, deadline=None)
def test_tounicode_cmap_parse_is_total(body):
    """A hostile or corrupt ToUnicode CMap stream must parse to SOME dict
    (possibly empty) — never raise, never blow the entry cap — because it
    is fed by the same untrusted byte stream as every other pdf object."""
    from docling_api_spark.pipeline.textextract import (
        _MAX_CMAP_ENTRIES,
        _parse_tounicode,
        pdf_to_markdown,
    )

    wrapped = (
        b"beginbfchar" + body + b"endbfchar\n"
        b"beginbfrange" + body + b"endbfrange"
    )
    out = _parse_tounicode(wrapped)
    assert isinstance(out, dict) and len(out) <= _MAX_CMAP_ENTRIES
    # and through the full extractor: a pdf whose stream carries cmap
    # markers plus byte soup still returns a str
    pdf = (
        b"%PDF-1.4\n<</Length 0>>\nstream\n" + wrapped + b"\nendstream\n%%EOF"
    )
    assert isinstance(pdf_to_markdown(pdf), str)


@given(
    lines=st.lists(
        st.text(
            alphabet=st.sampled_from(list("abcdefghij xyz,.!?")), max_size=40
        ).filter(
            # exclude the structural forms asciidoc_to_markdown converts;
            # everything else must be pass-through
            lambda ln: not ln.lstrip().startswith(("=", "*", ".", "//", "["))
            and ln.rstrip() not in ("----", "....", "////")
        ),
        max_size=12,
    ),
    trailing=st.sampled_from(["", "\n"]),
)
@settings(max_examples=200, deadline=None)
def test_asciidoc_passthrough_documents_are_byte_identical(lines, trailing):
    """A document with NO structural lines converts to itself, byte for
    byte, trailing newline included — the identity the q72 conversion
    oracle's closed form (markdown_len == n_chars for .adoc) rests on."""
    from docling_api_spark.pipeline.textextract import asciidoc_to_markdown

    text = "\n".join(lines) + trailing
    assert asciidoc_to_markdown(text) == text


@given(
    members=st.lists(
        st.tuples(
            st.sampled_from([
                "word/document.xml", "word/_rels/document.xml.rels",
                "word/numbering.xml", "word/media/image1.png",
                "ppt/slides/slide1.xml", "ppt/slides/_rels/slide1.xml.rels",
                "ppt/media/image1.png", "junk.bin",
            ]),
            st.one_of(
                st.binary(max_size=200),
                st.text(max_size=200).map(str.encode),
                st.sampled_from([
                    b"<w:document/>", b"<bad<xml", b"",
                    b'<Relationships xmlns="x"><Relationship/></Relationships>',
                ]),
            ),
        ),
        max_size=4,
        unique_by=lambda kv: kv[0],
    ),
    ext=st.sampled_from([".docx", ".pptx"]),
)
@settings(max_examples=200, deadline=None)
def test_converter_total_on_arbitrary_valid_zips(members, ext):
    """VALID zip containers with arbitrary/corrupt ooxml members must
    uphold the error-as-column contract through every new path (rels
    resolution, numbering, media, XML parse): a result row, never a
    raise — random-bytes fuzz almost never forms a valid zip, so this
    targets the layer behind the zip magic."""
    import zipfile
    from io import BytesIO

    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, payload in members:
            zf.writestr(name, payload)
    result = LightweightConverter().convert("fuzz" + ext, buf.getvalue())
    assert set(result) == {"filename", "markdown", "images", "error"}
    assert (result["error"] is None) == (result["markdown"] is not None)


@given(body=st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_pdf_inline_image_scan_is_total(body):
    """The BI..ID..EI scanner must return a list for ANY byte soup —
    malformed dicts, bogus framing, truncated payloads all skip (same
    totality contract as every other extractor seam)."""
    from docling_api_spark.pipeline.textextract import _inline_images

    soup = b"BI " + body + b" EI\nBI /W 2 /H 1 /CS /G /BPC 8 ID " + body
    out = _inline_images(soup)
    assert isinstance(out, list) and all(isinstance(b, bytes) for b in out)


# -- r13 raster-recovery widening: independent pure-python oracles -----------
# Each strategy computes the EXPECTED pixels with straightforward Python
# (bit twiddling, dict lookups, per-byte loops) so the numpy-vectorized
# production paths are checked against an independent implementation,
# not against themselves.
def _mk_image_pdf(payload, *, width, height, colorspace, bpc=8, extra=b""):
    import zlib as _z

    obj = (
        b"5 0 obj <</Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace %s /BitsPerComponent %d /Filter /FlateDecode%s "
        b"/Length %d>>\nstream\n"
        % (width, height, colorspace, bpc, extra, len(_z.compress(payload)))
        + _z.compress(payload)
        + b"\nendstream endobj"
    )
    return b"%PDF-1.4\n" + obj + b"\n%%EOF\n"


def _decode_one_png(png):
    from tests.test_textextract import decode_png

    return decode_png(png)


@st.composite
def _sub8_gray(draw):
    bpc = draw(st.sampled_from([1, 2, 4]))
    width = draw(st.integers(1, 11))
    height = draw(st.integers(1, 5))
    row_bytes = (width * bpc + 7) // 8
    data = draw(st.binary(min_size=height * row_bytes, max_size=height * row_bytes))
    # reference unpack: MSB-first bpc-bit groups, per byte-aligned row
    expect = bytearray()
    scale = 255 // ((1 << bpc) - 1)
    for y in range(height):
        row = data[y * row_bytes : (y + 1) * row_bytes]
        vals = []
        for b in row:
            for k in range(8 // bpc - 1, -1, -1):
                vals.append((b >> (k * bpc)) & ((1 << bpc) - 1))
        expect.extend(v * scale for v in vals[:width])
    return bpc, width, height, data, bytes(expect)


@given(r=_sub8_gray())
@settings(max_examples=120, deadline=None)
def test_sub8_gray_recovery_matches_reference_unpack(r):
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    bpc, width, height, data, expect = r
    (png,) = pdf_extract_images(
        _mk_image_pdf(
            data, width=width, height=height,
            colorspace=b"/DeviceGray", bpc=bpc,
        )
    )
    assert _decode_one_png(png) == (width, height, 1, expect)


@st.composite
def _indexed(draw):
    bpc = draw(st.sampled_from([1, 2, 4, 8]))
    width = draw(st.integers(1, 9))
    height = draw(st.integers(1, 4))
    hival = draw(st.integers(0, min(7, (1 << bpc) - 1)))
    nch = draw(st.sampled_from([1, 3]))
    palette = draw(
        st.binary(min_size=nch * (hival + 1), max_size=nch * (hival + 1))
    )
    row_bytes = (width * bpc + 7) // 8
    data = draw(st.binary(min_size=height * row_bytes, max_size=height * row_bytes))
    expect = bytearray()
    for y in range(height):
        row = data[y * row_bytes : (y + 1) * row_bytes]
        vals = []
        for b in row:
            for k in range(8 // bpc - 1, -1, -1):
                vals.append((b >> (k * bpc)) & ((1 << bpc) - 1))
        for v in vals[:width]:
            v = min(v, hival)
            expect.extend(palette[nch * v : nch * (v + 1)])
    return bpc, width, height, hival, nch, palette, data, bytes(expect)


@given(r=_indexed())
@settings(max_examples=120, deadline=None)
def test_indexed_recovery_matches_reference_lookup(r):
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    bpc, width, height, hival, nch, palette, data, expect = r
    base = b"/DeviceRGB" if nch == 3 else b"/DeviceGray"
    cs = (
        b"[/Indexed " + base + b" %d <" % hival
        + palette.hex().encode() + b">]"
    )
    (png,) = pdf_extract_images(
        _mk_image_pdf(data, width=width, height=height, colorspace=cs, bpc=bpc)
    )
    assert _decode_one_png(png) == (width, height, nch, expect)


@st.composite
def _tiff2(draw):
    channels = draw(st.sampled_from([1, 3]))
    width = draw(st.integers(1, 8))
    height = draw(st.integers(1, 4))
    pixels = draw(
        st.binary(
            min_size=width * height * channels,
            max_size=width * height * channels,
        )
    )
    # reference differencing (what an encoder would store)
    stride = width * channels
    diffed = bytearray(pixels)
    for y in range(height):
        for i in range(y * stride + stride - 1, y * stride + channels - 1, -1):
            diffed[i] = (diffed[i] - diffed[i - channels]) & 0xFF
    return channels, width, height, pixels, bytes(diffed)


@given(r=_tiff2())
@settings(max_examples=120, deadline=None)
def test_tiff_predictor2_roundtrips_reference_differencing(r):
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    channels, width, height, pixels, diffed = r
    cs = b"/DeviceRGB" if channels == 3 else b"/DeviceGray"
    (png,) = pdf_extract_images(
        _mk_image_pdf(
            diffed, width=width, height=height, colorspace=cs,
            extra=b" /DecodeParms <</Predictor 2 /Colors %d /Columns %d>>"
            % (channels, width),
        )
    )
    assert _decode_one_png(png) == (width, height, channels, pixels)


def _png_filter_reference(pixels, height, stride, bpp, ftypes):
    """Spec-literal PNG FILTERING (the encoder side, written only here):
    produces the filter-prefixed rows the production unfilterer must
    invert."""
    out = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        f = ftypes[y]
        out.append(f)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((row[x] - pred) & 0xFF)
        prior = row
    return bytes(out)


@st.composite
def _filtered_raster(draw):
    channels = draw(st.sampled_from([1, 3]))
    width = draw(st.integers(1, 7))
    height = draw(st.integers(1, 5))
    pixels = draw(
        st.binary(
            min_size=width * height * channels,
            max_size=width * height * channels,
        )
    )
    ftypes = draw(
        st.lists(st.integers(0, 4), min_size=height, max_size=height)
    )
    return channels, width, height, pixels, ftypes


@given(r=_filtered_raster())
@settings(max_examples=120, deadline=None)
def test_png_unfilter_inverts_spec_filtering(r):
    """Inversion on a /Predictor 15 stream forces the unfilter path:
    the recovered pixels must be the bitwise inverse of the ORIGINALS,
    whatever mix of None/Sub/Up/Average/Paeth rows the (test-local,
    spec-literal) encoder chose."""
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    channels, width, height, pixels, ftypes = r
    stride = width * channels
    filtered = _png_filter_reference(pixels, height, stride, channels, ftypes)
    cs = b"/DeviceRGB" if channels == 3 else b"/DeviceGray"
    decode = b" /Decode [" + b" ".join([b"1 0"] * channels) + b"]"
    (png,) = pdf_extract_images(
        _mk_image_pdf(
            filtered, width=width, height=height, colorspace=cs,
            extra=b" /DecodeParms <</Predictor 15 /Colors %d /Columns %d>>"
            % (channels, width) + decode,
        )
    )
    assert _decode_one_png(png) == (
        width, height, channels, bytes(255 - v for v in pixels)
    )


@st.composite
def _raster16(draw):
    channels = draw(st.sampled_from([1, 3]))
    width = draw(st.integers(1, 6))
    height = draw(st.integers(1, 4))
    n = width * height * channels
    data = draw(st.binary(min_size=2 * n, max_size=2 * n))
    return channels, width, height, data


@given(r=_raster16())
@settings(max_examples=100, deadline=None)
def test_16bit_recovery_keeps_high_bytes(r):
    from docling_api_spark.pipeline.textextract import pdf_extract_images

    channels, width, height, data = r
    cs = b"/DeviceRGB" if channels == 3 else b"/DeviceGray"
    (png,) = pdf_extract_images(
        _mk_image_pdf(data, width=width, height=height, colorspace=cs, bpc=16)
    )
    assert _decode_one_png(png) == (width, height, channels, data[::2])


@st.composite
def _inline_framed(draw):
    width = draw(st.integers(1, 6))
    height = draw(st.integers(1, 4))
    pixels = draw(
        st.binary(min_size=width * height, max_size=width * height)
    )
    filt = draw(st.sampled_from([None, b"Fl", b"AHx", b"A85", b"RL"]))
    trailer = draw(st.binary(max_size=24))  # junk after EI
    return width, height, pixels, filt, trailer


@given(r=_inline_framed())
@settings(max_examples=150, deadline=None)
def test_inline_image_framing_never_misextracts(r):
    """The inline payload end is computed from the filter's framing; for
    EOD-marked filters (RL) the EI token bounds the slice. Property: the
    scanner returns either the exact raster or nothing — NEVER wrong
    pixels — whatever bytes surround the image (including payloads that
    happen to contain whitespace+EI). Framing-safe filters (none, Fl,
    AHx, A85) must always extract."""
    import base64
    import zlib as _z

    from tests.test_textextract import decode_png

    from docling_api_spark.pipeline.textextract import _inline_images

    width, height, pixels, filt, trailer = r
    if filt is None:
        payload, fopt = pixels, b""
    elif filt == b"Fl":
        payload, fopt = _z.compress(pixels), b" /F /Fl"
    elif filt == b"AHx":
        payload, fopt = pixels.hex().encode() + b">", b" /F /AHx"
    elif filt == b"A85":
        payload, fopt = base64.a85encode(pixels) + b"~>", b" /F /A85"
    else:  # RL: literal runs of <=128 bytes + EOD
        chunks = [
            pixels[i : i + 128] for i in range(0, len(pixels), 128)
        ]
        payload = b"".join(
            bytes([len(c) - 1]) + c for c in chunks
        ) + b"\x80"
        fopt = b" /F /RL"
    stream = (
        b"BT (x) Tj ET\nBI /W %d /H %d /CS /G /BPC 8%s ID "
        % (width, height, fopt)
        + payload
        + b" EI\n"
        + trailer
    )
    out = _inline_images(stream)
    assert len(out) <= 1
    if out:
        assert decode_png(out[0]) == (width, height, 1, pixels)
    else:
        # only the EOD-marked filter may ever decline (an EI lookalike
        # inside its encoded bytes truncates the slice, the decode/length
        # check rejects it) — everything else is framing-safe
        assert filt == b"RL"


# ---------------------------------------------------------------------------
# textextract: fast paths agree with the straightforward definitions
# ---------------------------------------------------------------------------
_ESCAPES_REF = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _decode_pdf_string_ref(raw: bytes) -> str:
    """Byte-by-byte PDF literal-string decoding (PDF 7.3.4.2)."""
    import re

    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1:i + 2]
            if nxt in _ESCAPES_REF:
                out.append(_ESCAPES_REF[nxt])
                i += 2
                continue
            m = re.match(rb"[0-7]{1,3}", raw[i + 1:i + 4])
            if m:
                out.append(chr(int(m.group(), 8) & 0xFF))
                i += 1 + len(m.group())
                continue
            if nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                continue
            i += 1
            continue
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out)


def _mostly_printable_ref(s: str) -> bool:
    if not s:
        return False
    good = sum(1 for ch in s if ch.isprintable() or ch in "\n\r\t ")
    return good / len(s) >= 0.8


# escapes, octal runs (with the non-octal 8/9), EOLs and parens, mixed
# with arbitrary bytes
_ESCAPE_HEAVY = st.lists(
    st.one_of(
        st.sampled_from(
            [b"\\", b"\\", b"\\", b"0", b"3", b"7", b"8", b"\r", b"\n",
             b"\r\n", b"(", b")", b"n", b"t", b"b"]
        ),
        st.binary(min_size=1, max_size=2),
    ),
    max_size=40,
).map(b"".join)


@given(raw=_ESCAPE_HEAVY)
@settings(max_examples=1000, deadline=None)
def test_decode_pdf_string_matches_bytewise_reference(raw):
    from docling_api_spark.pipeline.textextract import _decode_pdf_string

    assert _decode_pdf_string(raw) == _decode_pdf_string_ref(raw)


@given(
    s=st.text(
        alphabet=st.one_of(
            st.sampled_from(list("\x00\x01\x07\x1b\x7f\x85\xa0\n\r\t ab")),
            st.characters(),
        ),
        max_size=30,
    )
)
@settings(max_examples=1000, deadline=None)
def test_mostly_printable_matches_counting_reference(s):
    from docling_api_spark.pipeline.textextract import _mostly_printable

    assert _mostly_printable(s) == _mostly_printable_ref(s)
