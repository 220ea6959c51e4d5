"""Deterministic glyph codec — the engine's stand-in for OCR.

Real tesseract is nondeterministic across builds and absent from this
environment (SURVEY.md §7.0), so per SURVEY.md §7.4.6 / FIXTURES.md §4 the
synthetic corpus renders text as 8x12-pixel binary glyph tiles from a fixed
seeded alphabet, and "OCR" is exact tile matching. This keeps the reference's
crop -> OCR -> empty-retry stages (python/app.py:104-109,185-193) real and
bit-deterministic.

Tile contract (shared by renderer and decoder):
- tile is 8 wide x 12 tall; row 0 and column 0 are always blank (ink-free),
  so horizontal ink runs are <= 7 px and vertical runs <= 11 px — both below
  the morphology kernels' effective erosion window (>= 3*(w//100)-2 >= 10 for
  w >= 400), so glyph ink can never masquerade as a table ruling line.
- ink pixels are 0 (black), paper is 255, matching the reference's grayscale
  convention before inversion (python/app.py:116-120).
- a space renders as an all-blank tile; decode maps all-blank -> " ".

Page text layout ("full-page OCR", the analogue of tesseract recognize):
lines start at x=TEXT_MARGIN_X, y=TEXT_MARGIN_Y + k*LINE_STEP.
"""

from __future__ import annotations

import numpy as np

GLYPH_W = 8
GLYPH_H = 12
LINE_STEP = 18
TEXT_MARGIN_X = 24
TEXT_MARGIN_Y = 16
GLYPH_SEED = 0x5EED

# Every character the synthetic corpus may render (FIXTURES.md §3 grammar):
# letters, digits, punctuation, and the reference's end-marker garble chars
# (pdfService.js:184-188).
ALPHABET = (
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789"
    ".,;:!?()*#%-'\"/&™“”¥\\"
)


def _make_tiles() -> np.ndarray:
    """(len(ALPHABET), GLYPH_H, GLYPH_W) boolean ink masks, deterministic."""
    rng = np.random.Generator(np.random.PCG64(GLYPH_SEED))
    tiles = rng.random((len(ALPHABET), GLYPH_H, GLYPH_W)) < 0.45
    tiles[:, 0, :] = False  # blank top row
    tiles[:, :, 0] = False  # blank left column
    # ensure every glyph is non-blank and unique (seeded, so this is a
    # one-time static assertion, not runtime randomness)
    flat = tiles.reshape(len(ALPHABET), -1)
    assert flat.any(axis=1).all(), "blank glyph in alphabet"
    assert len({t.tobytes() for t in flat}) == len(ALPHABET), "glyph collision"
    return tiles


TILES = _make_tiles()
_BLANK = np.zeros((GLYPH_H, GLYPH_W), dtype=bool)

# bit-packed lookup (12 bytes per tile) for the vectorized line decoder
_PACKED_LOOKUP = {
    np.packbits(TILES[i].reshape(-1)).tobytes(): ALPHABET[i]
    for i in range(len(ALPHABET))
}
_PACKED_LOOKUP[np.packbits(_BLANK.reshape(-1)).tobytes()] = " "


def render_line(page: np.ndarray, x: int, y: int, text: str) -> None:
    """Blit ``text`` onto grayscale ``page`` (uint8, 255=paper) at (x, y).
    Characters outside ALPHABET render as blank (space)."""
    h, w = page.shape
    for ch in text:
        if x + GLYPH_W > w or y + GLYPH_H > h:
            return
        idx = ALPHABET.find(ch)
        if idx >= 0:
            tile = TILES[idx]
            region = page[y : y + GLYPH_H, x : x + GLYPH_W]
            region[tile] = 0
        x += GLYPH_W


def decode_line(page: np.ndarray, x: int, y: int) -> str:
    """Decode one glyph line starting at (x, y): exact tile matching on the
    binarized image (ink = pixel < 128). Trailing spaces stripped; an
    unknown tile ends the line."""
    h, w = page.shape
    if y + GLYPH_H > h or x >= w:
        return ""
    # vectorized: binarize + bit-pack the whole line strip in one numpy
    # pass, then look tiles up by their 12-byte packed key (the
    # tile-at-a-time variant was the second-hottest spot in the profile)
    strip = page[y : y + GLYPH_H, x:] < 128
    nt = strip.shape[1] // GLYPH_W
    if nt == 0:
        return ""
    if not strip.any():
        return ""  # blank line: all tiles decode to spaces -> rstrip -> ""
    tiles = (
        strip[:, : nt * GLYPH_W]
        .reshape(GLYPH_H, nt, GLYPH_W)
        .transpose(1, 0, 2)
    )
    packed = np.packbits(
        np.ascontiguousarray(tiles).reshape(nt, GLYPH_H * GLYPH_W), axis=1
    )
    chars: list[str] = []
    for row in packed:
        ch = _PACKED_LOOKUP.get(row.tobytes())
        if ch is None:
            break
        chars.append(ch)
    return "".join(chars).rstrip(" ")


def decode_page_text(page: np.ndarray) -> str:
    """Full-page "OCR": decode every line on the fixed text grid and join
    with newlines (empty trailing lines dropped). The analogue of
    tesseract.js ``recognize`` (pdfService.js:98)."""
    lines: list[str] = []
    y = TEXT_MARGIN_Y
    h = page.shape[0]
    while y + GLYPH_H <= h:
        lines.append(decode_line(page, TEXT_MARGIN_X, y))
        y += LINE_STEP
    while lines and lines[-1] == "":
        lines.pop()
    return "\n".join(lines)


def decode_region(region: np.ndarray, scan_offsets: bool = False) -> str:
    """Decode text inside a cropped cell region — the analogue of the
    reference's per-cell ``pytesseract image_to_string`` (python/app.py:189).

    First pass (``scan_offsets=False``): glyphs are expected at the fixed
    in-cell margin (CELL_PAD, CELL_PAD) — mirrors the garbled-config default
    OCR (app.py:189, quirk: config '— oem 3 — psm 10' is em-dash garbage so
    tesseract ran with defaults).

    Retry pass (``scan_offsets=True``): scans all sub-tile alignments — the
    analogue of the '--psm 10' retry on empty text (app.py:190-191).
    """
    if not scan_offsets:
        lines = []
        y = CELL_PAD
        while y + GLYPH_H <= region.shape[0]:
            lines.append(decode_line(region, CELL_PAD, y))
            y += LINE_STEP
        return "\n".join(lines).strip("\n")
    # offset scan: find the first alignment that yields any text
    for dy in range(min(LINE_STEP, max(1, region.shape[0] - GLYPH_H + 1))):
        for dx in range(min(GLYPH_W, max(1, region.shape[1] - GLYPH_W + 1))):
            s = decode_line(region, dx, dy)
            if s:
                return s
    return ""


CELL_PAD = 3  # in-cell glyph margin used by the table renderer
