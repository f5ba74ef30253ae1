"""Seeded document corpus for the conversion workloads (stdlib only).

Every document is built from scratch from a `random.Random(seed)` stream,
so the same seed gives byte-identical files. Each document comes with the
facts it has by construction, which the output checks compare against:

- `tokens`: every word the text layer emits (lowercase letters only, so a
  renderer cannot split or merge them);
- `images`: how many embedded pictures the converter must return;
- `tables`: how many pipe tables the markdown must hold.

Formats covered: multi-page PDFs whose content streams use FlateDecode,
[ASCII85Decode FlateDecode], LZWDecode and ASCIIHexDecode, with Flate RGB
raster XObjects; docx and pptx with media parts; html with tables; csv,
md, asciidoc and PNG.
"""

from __future__ import annotations

import base64
import io
import random
import struct
import zipfile
import zlib
from dataclasses import dataclass, field

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "be", "da", "fo", "gu",
    "ha", "ji", "ke", "ly", "mo", "nu", "pe", "qi", "ro", "su", "ta", "wo",
)


@dataclass
class Doc:
    name: str
    fmt: str
    content: bytes
    tokens: list[str] = field(default_factory=list)
    images: int = 0
    tables: int = 0


class _Words:
    """Words drawn from a per-document vocabulary of syllable strings."""

    def __init__(self, rng: random.Random, size: int = 2000):
        self.rng = rng
        self.vocab = [
            "".join(rng.choices(_SYLLABLES, k=rng.randint(2, 5))) for _ in range(size)
        ]

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, k=n)


# ---------------------------------------------------------------------------
# raster / PNG helpers
# ---------------------------------------------------------------------------


def _raster(rng: random.Random, width: int, height: int) -> bytes:
    """RGB samples: a gradient with per-row noise, so Flate neither
    collapses it to nothing nor leaves it incompressible."""
    stride = width * 3
    ramp = bytes(range(256)) * (stride // 256 + 2)
    base = rng.randrange(256)
    rows = []
    for y in range(height):
        shift = (base + y) % 256
        noise = bytes(rng.getrandbits(8) & 0x0F for _ in range(16)) * (stride // 16 + 1)
        row = int.from_bytes(ramp[shift : shift + stride], "big") ^ int.from_bytes(
            noise[:stride], "big"
        )
        rows.append(row.to_bytes(stride, "big"))
    return b"".join(rows)


def _png(rng: random.Random, width: int, height: int) -> bytes:
    raw = _raster(rng, width, height)
    stride = width * 3
    scan = b"".join(b"\x00" + raw[y * stride : (y + 1) * stride] for y in range(height))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">2I5B", width, height, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan, 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# PDF
# ---------------------------------------------------------------------------


def lzw_encode(data: bytes) -> bytes:
    """PDF LZWDecode encoder (/EarlyChange 1). The table is cleared before
    it reaches 511 entries, so every code is 9 bits wide."""
    codes = [256]
    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    w = b""
    for c in data:
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        codes.append(table[w])
        table[wc] = nxt
        nxt += 1
        w = bytes([c])
        if nxt >= 500:
            codes.append(table[w])
            codes.append(256)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            w = b""
    if w:
        codes.append(table[w])
    codes.append(257)
    bits = "".join(format(code, "09b") for code in codes)
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big")


PDF_FILTERS = ("flate", "a85flate", "lzw", "hex")


def _encode_stream(data: bytes, kind: str) -> tuple[bytes, bytes]:
    if kind == "flate":
        return b"/Filter /FlateDecode", zlib.compress(data)
    if kind == "a85flate":
        return (
            b"/Filter [/ASCII85Decode /FlateDecode]",
            base64.a85encode(zlib.compress(data), adobe=True),
        )
    if kind == "lzw":
        return b"/Filter /LZWDecode", lzw_encode(data)
    if kind == "hex":
        return b"/Filter /ASCIIHexDecode", data.hex().encode() + b">"
    raise ValueError(kind)


def _stream_obj(num: int, head: bytes, data: bytes) -> bytes:
    return (
        b"%d 0 obj <<%s /Length %d>>\nstream\n" % (num, head, len(data))
        + data + b"\nendstream endobj\n"
    )


def make_pdf(
    rng: random.Random, name: str, pages: int, lines: int, images: int, img_px: int
) -> Doc:
    w = _Words(rng)
    objs: list[bytes] = []
    kids: list[bytes] = []
    tokens: list[str] = []
    num = 3
    for p in range(pages):
        page_num, content_num = num, num + 1
        num += 2
        img_nums = list(range(num, num + (images if p == 0 else 0)))
        num += len(img_nums)
        ops = [b"BT /F1 11 Tf 72 760 Td 14 TL"]
        for _ in range(lines):
            line = w.words(rng.randint(6, 10))
            tokens += line
            ops.append(b"(" + " ".join(line).encode() + b") Tj T*")
        ops.append(b"ET")
        for k, _ in enumerate(img_nums):
            ops.append(b"q 100 0 0 100 72 %d cm /Im%d Do Q" % (100 + 110 * k, k))
        xobj = b" ".join(b"/Im%d %d 0 R" % (k, n) for k, n in enumerate(img_nums))
        objs.append(
            b"%d 0 obj <</Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources <</XObject <<%s>>>> /Contents %d 0 R>> endobj\n"
            % (page_num, xobj, content_num)
        )
        kind = PDF_FILTERS[p % len(PDF_FILTERS)]
        head, data = _encode_stream(b"\n".join(ops), kind)
        objs.append(_stream_obj(content_num, head, data))
        for n in img_nums:
            raw = _raster(rng, img_px, img_px)
            objs.append(
                _stream_obj(
                    n,
                    b"/Type /XObject /Subtype /Image /Width %d /Height %d "
                    b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode"
                    % (img_px, img_px),
                    zlib.compress(raw),
                )
            )
        kids.append(b"%d 0 R" % page_num)
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj <</Type /Catalog /Pages 2 0 R>> endobj\n"
        b"2 0 obj <</Type /Pages /Kids [" + b" ".join(kids)
        + b"] /Count %d>> endobj\n" % pages
        + b"".join(objs)
        + b"trailer <</Root 1 0 R>>\n%%EOF\n"
    )
    return Doc(name, "pdf", body, tokens, images=images)


# ---------------------------------------------------------------------------
# OOXML
# ---------------------------------------------------------------------------

_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_P_NS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
_RELS_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'


def _rels(targets: list[str]) -> str:
    items = "".join(
        f'<Relationship Id="rId{i + 1}" Type="x/image" Target="{t}"/>'
        for i, t in enumerate(targets)
    )
    return f'<?xml version="1.0"?><Relationships {_RELS_NS}>{items}</Relationships>'


def _zip(parts: dict[str, bytes | str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for part, data in parts.items():
            zf.writestr(part, data)
    return buf.getvalue()


def make_docx(
    rng: random.Random, name: str, paras: int, tables: int, images: int, img_px: int
) -> Doc:
    w = _Words(rng)
    tokens: list[str] = []
    body: list[str] = []

    def para(n: int) -> str:
        ws = w.words(n)
        tokens.extend(ws)
        return f"<w:p><w:r><w:t>{' '.join(ws)}</w:t></w:r></w:p>"

    for i in range(paras):
        body.append(para(rng.randint(8, 14)))
        if i < images:
            body.append(
                f'<w:p><w:r><w:drawing><a:blip r:embed="rId{i + 1}"/></w:drawing></w:r></w:p>'
            )
    for _ in range(tables):
        rows = "".join(
            "<w:tr>" + "".join(f"<w:tc>{para(1)}</w:tc>" for _ in range(4)) + "</w:tr>"
            for _ in range(rng.randint(3, 6))
        )
        body.append(f"<w:tbl>{rows}</w:tbl>")
    doc_xml = (
        f'<?xml version="1.0"?><w:document {_W_NS} {_A_NS} {_R_NS}>'
        f"<w:body>{''.join(body)}</w:body></w:document>"
    )
    media = {f"word/media/image{i + 1}.png": _png(rng, img_px, img_px) for i in range(images)}
    parts: dict[str, bytes | str] = {
        "word/document.xml": doc_xml,
        "word/_rels/document.xml.rels": _rels([f"media/image{i + 1}.png" for i in range(images)]),
        **media,
    }
    return Doc(name, "docx", _zip(parts), tokens, images=images, tables=tables)


def make_pptx(rng: random.Random, name: str, slides: int, images: int, img_px: int) -> Doc:
    w = _Words(rng)
    tokens: list[str] = []
    parts: dict[str, bytes | str] = {"ppt/presentation.xml": "<p/>"}
    for s in range(1, slides + 1):
        shapes = []
        for _ in range(rng.randint(2, 4)):
            ws = w.words(rng.randint(5, 9))
            tokens.extend(ws)
            shapes.append(
                f"<p:sp><p:txBody><a:p><a:r><a:t>{' '.join(ws)}</a:t></a:r></a:p></p:txBody></p:sp>"
            )
        if s <= images:
            shapes.append('<p:pic><p:blipFill><a:blip r:embed="rId1"/></p:blipFill></p:pic>')
            parts[f"ppt/media/image{s}.png"] = _png(rng, img_px, img_px)
            parts[f"ppt/slides/_rels/slide{s}.xml.rels"] = _rels([f"../media/image{s}.png"])
        parts[f"ppt/slides/slide{s}.xml"] = (
            f'<?xml version="1.0"?><p:sld {_P_NS} {_A_NS} {_R_NS}><p:cSld><p:spTree>'
            f"{''.join(shapes)}</p:spTree></p:cSld></p:sld>"
        )
    return Doc(name, "pptx", _zip(parts), tokens, images=min(images, slides))


# ---------------------------------------------------------------------------
# text formats
# ---------------------------------------------------------------------------


def make_html(rng: random.Random, name: str, paras: int, tables: int, rows: int) -> Doc:
    w = _Words(rng)
    tokens: list[str] = []
    parts = ["<!DOCTYPE html><html><head><title>t</title></head><body>"]
    for _ in range(paras):
        ws = w.words(rng.randint(8, 16))
        tokens += ws
        parts.append(f"<p>{' '.join(ws)}</p>")
    for _ in range(tables):
        cols = rng.randint(3, 6)
        head = w.words(cols)
        tokens += head
        trs = ["<tr>" + "".join(f"<th>{c}</th>" for c in head) + "</tr>"]
        for _ in range(rows):
            cells = w.words(cols)
            tokens += cells
            trs.append("<tr>" + "".join(f"<td>{c}</td>" for c in cells) + "</tr>")
        parts.append("<table>" + "".join(trs) + "</table>")
    parts.append("</body></html>")
    return Doc(name, "html", "".join(parts).encode(), tokens, tables=tables)


def make_csv(rng: random.Random, name: str, rows: int) -> Doc:
    w = _Words(rng)
    cols = rng.randint(3, 5)
    lines = [w.words(cols) for _ in range(rows + 1)]
    text = "\n".join(",".join(r) for r in lines) + "\n"
    return Doc(name, "csv", text.encode(), [t for r in lines for t in r], tables=1)


def make_md(rng: random.Random, name: str, paras: int) -> Doc:
    w = _Words(rng)
    tokens: list[str] = []
    out = []
    for i in range(paras):
        ws = w.words(rng.randint(6, 12))
        tokens += ws
        out.append(("## " if i % 3 == 0 else "") + " ".join(ws))
    return Doc(name, "md", "\n\n".join(out).encode(), tokens)


def make_adoc(rng: random.Random, name: str, paras: int) -> Doc:
    w = _Words(rng)
    tokens: list[str] = []
    out = []
    for i in range(paras):
        ws = w.words(rng.randint(6, 12))
        tokens += ws
        out.append(("== " if i % 3 == 0 else "") + " ".join(ws))
    return Doc(name, "asciidoc", "\n\n".join(out).encode(), tokens)


def make_image(rng: random.Random, name: str, px: int) -> Doc:
    return Doc(name, "image", _png(rng, px, px), [], images=1)


# ---------------------------------------------------------------------------
# workload corpora
# ---------------------------------------------------------------------------


def large_doc(rng: random.Random, idx: int) -> Doc:
    """One born-digital document of the batch workload: heavy PDFs,
    media-bearing docx/pptx, table-heavy html, in a fixed rotation."""
    kind = ("pdf", "docx", "pdf", "html", "pptx", "pdf", "docx", "html")[idx % 8]
    stem = f"doc{idx:05d}"
    if kind == "pdf":
        return make_pdf(rng, f"{stem}.pdf", pages=100, lines=40, images=2, img_px=128)
    if kind == "docx":
        return make_docx(rng, f"{stem}.docx", paras=200, tables=6, images=4, img_px=128)
    if kind == "pptx":
        return make_pptx(rng, f"{stem}.pptx", slides=30, images=6, img_px=128)
    return make_html(rng, f"{stem}.html", paras=80, tables=10, rows=40)


def small_doc(rng: random.Random, idx: int) -> Doc:
    """One small document of the job-stream workload, in a fixed rotation
    over every supported format."""
    kind = ("md", "csv", "html", "adoc", "pdf", "docx", "pptx", "png")[idx % 8]
    stem = f"job{idx:05d}"
    if kind == "md":
        return make_md(rng, f"{stem}.md", paras=5)
    if kind == "csv":
        return make_csv(rng, f"{stem}.csv", rows=8)
    if kind == "html":
        return make_html(rng, f"{stem}.html", paras=3, tables=1, rows=4)
    if kind == "adoc":
        return make_adoc(rng, f"{stem}.adoc", paras=5)
    if kind == "pdf":
        return make_pdf(rng, f"{stem}.pdf", pages=1, lines=6, images=1, img_px=16)
    if kind == "docx":
        return make_docx(rng, f"{stem}.docx", paras=4, tables=1, images=1, img_px=16)
    if kind == "pptx":
        return make_pptx(rng, f"{stem}.pptx", slides=2, images=1, img_px=16)
    return make_image(rng, f"{stem}.png", px=16)
