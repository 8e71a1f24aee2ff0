"""Deterministic DOCX/PPTX fixture writers (stdlib zipfile + string XML).

Counterpart of :mod:`.pdf_write` for the OOXML extraction paths: the bench/
oracle corpus synthesizes real ZIP+XML documents whose expected markdown is
reconstructable in pure SQL from the generation rule, so the driver's
DuckDB gate value-checks ``extract_docx_rich``/``extract_pptx_rich`` end-to-end
(the reference accepts DOCX/PPTX as first-class inputs —
``document_converter/utils.py:26-27``).

Byte-determinism: every zip entry is written through a fixed-timestamp
``ZipInfo`` (``zipfile.writestr`` with a bare name stamps wall-clock time).
"""

from __future__ import annotations

import io
import zipfile
from xml.sax.saxutils import escape

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types"><Default Extension="xml" ContentType="application/xml"/>'
    "</Types>"
)


def _zip_bytes(entries: list[tuple[str, str]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries:
            zi = zipfile.ZipInfo(name)  # fixed 1980-01-01 timestamp
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
    return buf.getvalue()


def _w_para(text: str, style: str | None = None,
            bullet: bool = False) -> str:
    ppr = ""
    if style:
        ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>'
    elif bullet:
        ppr = ('<w:pPr><w:numPr><w:ilvl w:val="0"/>'
               '<w:numId w:val="1"/></w:numPr></w:pPr>')
    return f"<w:p>{ppr}<w:r><w:t>{escape(text)}</w:t></w:r></w:p>"


def _w_table(rows: list[list[str]]) -> str:
    trs = []
    for row in rows:
        tcs = "".join(
            f"<w:tc><w:p><w:r><w:t>{escape(c)}</w:t></w:r></w:p></w:tc>"
            for c in row)
        trs.append(f"<w:tr>{tcs}</w:tr>")
    return "<w:tbl>" + "".join(trs) + "</w:tbl>"


_R_NS = ("http://schemas.openxmlformats.org/officeDocument/2006/"
         "relationships")
_REL_PKG_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_REL_IMG_TYPE = ("http://schemas.openxmlformats.org/officeDocument/2006/"
                 "relationships/image")


def write_docx(heading: str, paragraph: str, bullets: list[str],
               table_rows: list[list[str]],
               images: list[bytes] | None = None) -> bytes:
    """Minimal-but-real DOCX: Heading1 title, a body paragraph, a bulleted
    list, and a table — exactly the constructs ``extract_docx_rich`` maps to
    markdown blocks.

    ``images`` (r6 notch 11a, the A12 contract on the OOXML path): each
    PNG byte string becomes a ``word/media/imageN.png`` part, an image
    relationship in ``word/_rels/document.xml.rels``, and an inline
    ``<w:drawing>`` → ``<a:blip r:embed>`` paragraph between the body
    paragraph and the bullets — the real wire shape python-docx and
    Word emit."""
    img_paras = ""
    rels = []
    media: list[tuple[str, bytes]] = []
    for n, png in enumerate(images or [], start=1):
        rid = f"rId{n}"
        rels.append(f'<Relationship Id="{rid}" Type="{_REL_IMG_TYPE}" '
                    f'Target="media/image{n}.png"/>')
        media.append((f"word/media/image{n}.png", png))
        img_paras += (f'<w:p><w:r><w:drawing><wp:inline>'
                      f'<a:graphic><a:graphicData>'
                      f'<pic:pic><pic:blipFill>'
                      f'<a:blip r:embed="{rid}"/>'
                      f"</pic:blipFill></pic:pic>"
                      f"</a:graphicData></a:graphic>"
                      f"</wp:inline></w:drawing></w:r></w:p>")
    body = (
        _w_para(heading, style="Heading1")
        + _w_para(paragraph)
        + img_paras
        + "".join(_w_para(b, bullet=True) for b in bullets)
        + _w_table(table_rows)
    )
    extra_ns = ""
    if images:
        extra_ns = (
            f' xmlns:r="{_R_NS}" xmlns:a="{_A_NS}"'
            ' xmlns:wp="http://schemas.openxmlformats.org/drawingml/'
            '2006/wordprocessingDrawing"'
            ' xmlns:pic="http://schemas.openxmlformats.org/drawingml/'
            '2006/picture"')
    doc = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f'<w:document xmlns:w="{_W_NS}"{extra_ns}><w:body>{body}'
           f"</w:body></w:document>")
    entries = [("[Content_Types].xml", _CONTENT_TYPES),
               ("word/document.xml", doc)]
    if rels:
        entries.append((
            "word/_rels/document.xml.rels",
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{_REL_PKG_NS}">{"".join(rels)}'
            f"</Relationships>"))
    out = _zip_bytes(entries)
    if media:
        # media parts are binary — append via a second pass (zip
        # entries list is (str, str) for XML; PNGs ride raw)
        import io
        import zipfile
        buf = io.BytesIO(out)
        with zipfile.ZipFile(buf, "a", zipfile.ZIP_DEFLATED) as zf:
            for name, data in media:
                zi = zipfile.ZipInfo(name)
                zi.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(zi, data)
        out = buf.getvalue()
    return out


def _p_shape(ph_type: str, paras: list[tuple[int, str]]) -> str:
    parts = []
    for lvl, t in paras:
        ppr = f'<a:pPr lvl="{lvl}"/>' if lvl else ""
        parts.append(f"<a:p>{ppr}<a:r><a:t>{escape(t)}</a:t></a:r></a:p>")
    return (f'<p:sp><p:nvSpPr><p:nvPr><p:ph type="{ph_type}"/></p:nvPr>'
            f"</p:nvSpPr><p:txBody>{''.join(parts)}</p:txBody></p:sp>")


def write_pptx(slides: list[tuple[str, list[tuple[int, str]]]],
               images: list[list[bytes]] | None = None) -> bytes:
    """Minimal-but-real PPTX: per slide a title placeholder shape and a
    body shape of (indent-level, text) bullets — the constructs
    ``extract_pptx_rich`` maps to '##' headings and '-' bullets.

    ``images`` (r6 — A12 on the PPTX path): per-slide lists of PNG
    bytes; each becomes a ``ppt/media/imageN.png`` part, a slide-rels
    image relationship, and a ``p:pic`` → ``p:blipFill`` →
    ``a:blip r:embed`` shape after the body — the wire shape
    python-pptx and PowerPoint emit."""
    entries = [("[Content_Types].xml", _CONTENT_TYPES),
               ("ppt/presentation.xml",
                f'<?xml version="1.0"?><p:presentation xmlns:p="{_P_NS}"/>')]
    media: list[tuple[str, bytes]] = []
    img_no = 0
    for n, (title, bullets) in enumerate(slides, start=1):
        shapes = _p_shape("title", [(0, title)]) + _p_shape("body", bullets)
        slide_imgs = (images[n - 1]
                      if images and n - 1 < len(images) else [])
        rels = []
        for k, png in enumerate(slide_imgs, start=1):
            img_no += 1
            rid = f"rId{k}"
            rels.append(
                f'<Relationship Id="{rid}" Type="{_REL_IMG_TYPE}" '
                f'Target="../media/image{img_no}.png"/>')
            media.append((f"ppt/media/image{img_no}.png", png))
            shapes += (f"<p:pic><p:blipFill>"
                       f'<a:blip r:embed="{rid}"/>'
                       f"</p:blipFill></p:pic>")
        rns = (f' xmlns:r="{_R_NS}"' if slide_imgs else "")
        xml = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               f'<p:sld xmlns:p="{_P_NS}" xmlns:a="{_A_NS}"{rns}>'
               f"<p:cSld><p:spTree>{shapes}</p:spTree></p:cSld></p:sld>")
        entries.append((f"ppt/slides/slide{n}.xml", xml))
        if rels:
            entries.append((
                f"ppt/slides/_rels/slide{n}.xml.rels",
                f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<Relationships xmlns="{_REL_PKG_NS}">{"".join(rels)}'
                f"</Relationships>"))
    out = _zip_bytes(entries)
    if media:
        import io
        import zipfile
        buf = io.BytesIO(out)
        with zipfile.ZipFile(buf, "a", zipfile.ZIP_DEFLATED) as zf:
            for name, data in media:
                zi = zipfile.ZipInfo(name)
                zi.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(zi, data)
        out = buf.getvalue()
    return out
