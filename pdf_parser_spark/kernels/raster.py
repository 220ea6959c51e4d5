"""RSTR page-raster container (FIXTURES.md §2).

The sandbox has no PDF decoder (no fitz/PyMuPDF — SURVEY.md §7.0); the
reference's algorithmic content starts at the grayscale page raster
(python/app.py:116-120). PDF-like documents therefore carry their
pre-rasterized pages in ``html:binary`` using this trivial deterministic
container; ``decode`` (the engine's analogue of the reference's
``convert_pdf_to_image``, python/app.py:28-81) parses it, for
``oracle.extract_document`` and for ``operators.decode_pages``.

Layout (little-endian):
    magic   4B   b'RSTR'
    npages  u16
    per page:
        width  u16
        height u16
        pixels u8[width*height]   # grayscale, row-major, 0=ink 255=paper
    optional trailing embedded-images section (S4, reference
    python/app.py:44-57 — per-page images extracted from the PDF xref
    table; older blobs simply omit it, and ``decode`` ignores it):
        magic   4B   b'IMGS'
        count   u16
        per image:
            page_no u16   # 1-based, like the reference's page_{n} dirs
            idx     u16   # index order within the page (O4)
            width   u16
            height  u16
            pixels  u8[width*height]
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"RSTR"
IMAGES_MAGIC = b"IMGS"
HTML_MAGICS = (b"<!DO", b"<!do", b"<htm", b"<HTM")


class RasterError(ValueError):
    pass


def encode(
    pages: list[np.ndarray],
    images: list[tuple[int, np.ndarray]] | None = None,
) -> bytes:
    """Encode pages (+ optional embedded images as (page_no, pixels)
    pairs, 1-based page numbers). Without ``images`` the output is
    byte-identical to the pre-S4 container."""
    out = [MAGIC, struct.pack("<H", len(pages))]
    for p in pages:
        if p.dtype != np.uint8 or p.ndim != 2:
            raise RasterError("page must be 2-D uint8")
        h, w = p.shape
        out.append(struct.pack("<HH", w, h))
        out.append(p.tobytes())
    if images:
        out.append(IMAGES_MAGIC)
        out.append(struct.pack("<H", len(images)))
        per_page_idx: dict[int, int] = {}
        for page_no, img in images:
            if img.dtype != np.uint8 or img.ndim != 2:
                raise RasterError("image must be 2-D uint8")
            idx = per_page_idx.get(page_no, 0)
            per_page_idx[page_no] = idx + 1
            h, w = img.shape
            out.append(struct.pack("<HHHH", page_no, idx, w, h))
            out.append(img.tobytes())
    return b"".join(out)


def _decode_pages_off(blob: bytes) -> tuple[list[np.ndarray], int]:
    if len(blob) < 6 or blob[:4] != MAGIC:
        raise RasterError("bad magic")
    (npages,) = struct.unpack_from("<H", blob, 4)
    off = 6
    pages: list[np.ndarray] = []
    for _ in range(npages):
        if off + 4 > len(blob):
            raise RasterError("truncated page header")
        w, h = struct.unpack_from("<HH", blob, off)
        off += 4
        n = w * h
        if w == 0 or h == 0 or off + n > len(blob):
            raise RasterError("truncated page pixels")
        pages.append(
            np.frombuffer(blob, dtype=np.uint8, count=n, offset=off)
            .reshape(h, w)
            .copy()
        )
        off += n
    return pages, off


def decode(blob: bytes) -> list[np.ndarray]:
    """Parse an RSTR blob into page arrays. Raises RasterError on any
    corruption — callers convert this into an error ROW, never a job
    failure (reference analogue: fitz.open failure -> {'type':'error'},
    python/app.py:32-36). Any trailing embedded-images section is
    ignored here (text extraction never reads it — the reference's
    images are a disk side-output, python/app.py:44-57)."""
    return _decode_pages_off(blob)[0]


def decode_images(blob: bytes) -> dict[int, list[tuple[int, np.ndarray]]]:
    """Parse the optional embedded-images section: page_no (1-based) ->
    [(idx, pixels), ...] in idx order (O4). Empty dict when the blob
    predates the section or has none. Raises RasterError only on a
    corrupt images section — a valid pre-S4 blob never raises."""
    _pages, off = _decode_pages_off(blob)
    if off + 6 > len(blob) or blob[off : off + 4] != IMAGES_MAGIC:
        return {}
    (count,) = struct.unpack_from("<H", blob, off + 4)
    off += 6
    out: dict[int, list[tuple[int, np.ndarray]]] = {}
    for _ in range(count):
        if off + 8 > len(blob):
            raise RasterError("truncated image header")
        page_no, idx, w, h = struct.unpack_from("<HHHH", blob, off)
        off += 8
        n = w * h
        if w == 0 or h == 0 or off + n > len(blob):
            raise RasterError("truncated image pixels")
        out.setdefault(page_no, []).append(
            (
                idx,
                np.frombuffer(blob, dtype=np.uint8, count=n, offset=off)
                .reshape(h, w)
                .copy(),
            )
        )
        off += n
    for imgs in out.values():
        imgs.sort(key=lambda t: t[0])
    return out


def detect_kind(blob: bytes) -> str:
    """Route a document by magic bytes: 'pdf' (RSTR container), 'html', or
    'unknown' (-> error row). Mirrors the reference's implicit routing by
    upload type (SURVEY.md §3.4 kind router)."""
    if blob[:4] == MAGIC:
        return "pdf"
    head = blob[:256].lstrip()[:4]
    if head in HTML_MAGICS or blob[:1] == b"<":
        return "html"
    return "unknown"
