"""DOCX / PPTX → Markdown via stdlib zipfile + xml.etree.

The reference supports DOCX/PPTX inputs (``utils.py:26-27``) through
docling's python-docx / python-pptx backends (``poetry.lock:447-448``).
OOXML is just ZIP + XML, so we parse it directly (SURVEY.md Table C):

- DOCX: ``word/document.xml`` — ``w:p`` paragraphs (``w:pStyle`` values
  ``Heading1``..``Heading6`` / ``Title`` map to ``#``..``######`` / ``#``),
  ``w:tbl`` → GFM pipe tables, runs ``w:r``/``w:t`` concatenated, bold/italic
  run props → ``**``/``*``, numbered/bulleted paragraphs (``w:numPr``) →
  list items.
- PPTX: ``ppt/slides/slide{N}.xml`` in slide-number order — the title
  placeholder becomes an ``##`` heading, body paragraphs become ``-``
  bullets (indent by ``a:pPr lvl``).

Output joins blocks with blank lines — same dialect as html_extract.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
import xml.etree.ElementTree as ET


def _read_part(zf: zipfile.ZipFile, base_dir: str, target: str) -> bytes:
    """Resolve a relationship target against its part's directory and
    read it (r7, r6 ADVICE low #2): absolute targets ('/word/media/x')
    strip the leading slash instead of double-prefixing, relative ones
    (incl. '../media/x') normalize via posixpath; a target that does
    not resolve to a stored part raises the TYPED unresolved error
    (same channel as a missing rId) rather than a bare KeyError."""
    if target.startswith("/"):
        name = posixpath.normpath(target.lstrip("/"))
    else:
        name = posixpath.normpath(posixpath.join(base_dir, target))
    try:
        return zf.read(name)
    except KeyError:
        raise ValueError("unresolved image part") from None

W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"

_HEADING_RX = re.compile(r"^Heading([1-6])$", re.IGNORECASE)


def _docx_run_text(r) -> str:
    parts = []
    for t in r.iter(W + "t"):
        parts.append(t.text or "")
    for _ in r.iter(W + "br"):
        parts.append("\n")
    text = "".join(parts)
    if not text.strip():
        return text
    rpr = r.find(W + "rPr")
    if rpr is not None:
        bold = rpr.find(W + "b") is not None
        ital = rpr.find(W + "i") is not None
        core = text.strip()
        if bold:
            core = f"**{core}**"
        if ital:
            core = f"*{core}*"
        if bold or ital:
            lead = text[: len(text) - len(text.lstrip())]
            trail = text[len(text.rstrip()):]
            return lead + core + trail
    return text


def _docx_para_text(p) -> str:
    return "".join(_docx_run_text(r) for r in p.findall(W + "r")).strip()


def _docx_para_block(p) -> str | None:
    ppr = p.find(W + "pPr")
    text = _docx_para_text(p)
    if not text:
        return None
    if ppr is not None:
        st = ppr.find(W + "pStyle")
        if st is not None:
            val = st.get(W + "val", "")
            m = _HEADING_RX.match(val)
            if m:
                return "#" * int(m.group(1)) + " " + text
            if val.lower() == "title":
                return "# " + text
        if ppr.find(W + "numPr") is not None:
            ilvl = ppr.find(W + "numPr/" + W + "ilvl")
            depth = int(ilvl.get(W + "val", "0")) if ilvl is not None else 0
            return "  " * depth + "- " + text
    return text


def _docx_table_block(tbl) -> str | None:
    rows = []
    for tr in tbl.findall(W + "tr"):
        cells = []
        for tc in tr.findall(W + "tc"):
            ps = [_docx_para_text(p) for p in tc.iter(W + "p")]
            cells.append(" ".join(x for x in ps if x).replace("|", "\\|"))
        if cells:
            rows.append(cells)
    if not rows:
        return None
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    lines = ["| " + " | ".join(rows[0]) + " |",
             "| " + " | ".join(["---"] * width) + " |"]
    for r in rows[1:]:
        lines.append("| " + " | ".join(r) + " |")
    return "\n".join(lines)


R = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
     "relationships}")
_REL_PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _docx_rels(zf: zipfile.ZipFile) -> dict[str, str]:
    """word/_rels/document.xml.rels → {rId: target} (empty if absent)."""
    try:
        xml = zf.read("word/_rels/document.xml.rels")
    except KeyError:
        return {}
    out = {}
    for rel in ET.fromstring(xml).iter(_REL_PKG + "Relationship"):
        rid, target = rel.get("Id"), rel.get("Target")
        if rid and target:
            out[rid] = target
    return out


def extract_docx_rich(content: bytes) -> tuple[str, list]:
    """DOCX → (markdown, images manifest). May raise — caller wraps
    into the per-doc error channel (A14).

    Images (r6 notch 11a — A12 parity on the OOXML path, reference
    ``_process_document_images``, service.py:41-66): inline
    ``a:blip r:embed`` drawings resolve through the document rels to
    their ``word/media/*`` parts; each becomes a ``picture-N.png``
    manifest entry (payload = the stored PNG bytes, base64) and the
    first-remaining-placeholder markdown rewrite — the same contract
    as the HTML and PDF paths."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        xml = zf.read("word/document.xml")
        rels = _docx_rels(zf)
        root = ET.fromstring(xml)
        body = root.find(W + "body")
        blocks: list[str] = []
        pending_list: list[str] = []
        pictures: list[bytes] = []
        for el in (body if body is not None else []):
            if el.tag == W + "p":
                blips = list(el.iter(A + "blip"))
                if blips:
                    if pending_list:
                        blocks.append("\n".join(pending_list))
                        pending_list = []
                    for blip in blips:
                        target = rels.get(blip.get(R + "embed", ""))
                        if target is None:
                            raise ValueError("unresolved image rel")
                        pictures.append(_read_part(zf, "word", target))
                        blocks.append("<!-- image -->")
                    # r7 (r6 ADVICE low #1): a paragraph can carry BOTH
                    # an inline image and run text — keep the text
                    # instead of dropping it with the placeholders
                    tb = _docx_para_block(el)
                    if tb is not None:
                        blocks.append(tb)
                    continue
                b = _docx_para_block(el)
                if b is None:
                    continue
                if b.lstrip().startswith("- "):
                    pending_list.append(b)
                    continue
                if pending_list:
                    blocks.append("\n".join(pending_list))
                    pending_list = []
                blocks.append(b)
            elif el.tag == W + "tbl":
                if pending_list:
                    blocks.append("\n".join(pending_list))
                    pending_list = []
                t = _docx_table_block(el)
                if t:
                    blocks.append(t)
        if pending_list:
            blocks.append("\n".join(pending_list))
    images: list[dict] = []
    for n, png in enumerate(pictures, 1):
        import base64
        fname = f"picture-{n}.png"
        images.append({"type": "picture", "filename": fname,
                       "image": base64.b64encode(png).decode("ascii")})
        for i, b in enumerate(blocks):
            if "<!-- image -->" in b:
                blocks[i] = b.replace("<!-- image -->", fname, 1)
                break
    return "\n\n".join(blocks), images


def _slide_no(name: str) -> int:
    m = re.search(r"slide(\d+)\.xml$", name)
    return int(m.group(1)) if m else 0


def _pptx_rels(zf: zipfile.ZipFile, slide_name: str) -> dict[str, str]:
    """ppt/slides/_rels/slideN.xml.rels → {rId: target} (empty if
    absent)."""
    rels_name = (slide_name.rsplit("/", 1)[0] + "/_rels/"
                 + slide_name.rsplit("/", 1)[1] + ".rels")
    try:
        xml = zf.read(rels_name)
    except KeyError:
        return {}
    out = {}
    for rel in ET.fromstring(xml).iter(_REL_PKG + "Relationship"):
        rid, target = rel.get("Id"), rel.get("Target")
        if rid and target:
            out[rid] = target
    return out


def extract_pptx_rich(content: bytes) -> tuple[str, list]:
    """PPTX → (markdown, images manifest). May raise — caller wraps
    into the per-doc error channel (A14).

    Images (r6 — A12 on the PPTX path): ``p:pic`` → ``a:blip r:embed``
    shapes resolve through each slide's rels to their ``ppt/media``
    parts; same picture-N.png manifest + first-remaining-placeholder
    rewrite as the HTML/PDF/DOCX paths."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        slides = sorted(
            (n for n in zf.namelist()
             if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=_slide_no,
        )
        blocks: list[str] = []
        pictures: list[bytes] = []
        for name in slides:
            root = ET.fromstring(zf.read(name))
            rels = None
            for el in root.iter():
                if el.tag == P + "sp":
                    _pptx_shape_blocks(el, blocks)
                elif el.tag == P + "pic":
                    for blip in el.iter(A + "blip"):
                        if rels is None:
                            rels = _pptx_rels(zf, name)
                        target = rels.get(blip.get(R + "embed", ""))
                        if target is None:
                            raise ValueError("unresolved image rel")
                        # slide rels targets resolve against the slide
                        # part's directory (typically ../media/imageN)
                        pictures.append(_read_part(
                            zf, name.rsplit("/", 1)[0], target))
                        blocks.append("<!-- image -->")
    images: list[dict] = []
    for n, png in enumerate(pictures, 1):
        import base64
        fname = f"picture-{n}.png"
        images.append({"type": "picture", "filename": fname,
                       "image": base64.b64encode(png).decode("ascii")})
        for i, b in enumerate(blocks):
            if "<!-- image -->" in b:
                blocks[i] = b.replace("<!-- image -->", fname, 1)
                break
    return "\n\n".join(blocks), images


def _pptx_shape_blocks(sp, blocks: list[str]) -> None:
    # placeholder type: title vs body
    ph = sp.find(".//" + P + "nvSpPr/" + P + "nvPr/" + P + "ph")
    is_title = ph is not None and ph.get("type", "") in ("title",
                                                         "ctrTitle")
    txbody = sp.find(P + "txBody")
    if txbody is None:
        return
    bullets: list[str] = []
    for para in txbody.findall(A + "p"):
        text = "".join(
            (t.text or "") for t in para.iter(A + "t")).strip()
        if not text:
            continue
        if is_title:
            blocks.append("## " + text)
        else:
            ppr = para.find(A + "pPr")
            lvl = int(ppr.get("lvl", "0")) if ppr is not None else 0
            bullets.append("  " * lvl + "- " + text)
    if bullets:
        blocks.append("\n".join(bullets))
