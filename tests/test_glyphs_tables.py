"""Glyph codec round-trip + table-structure kernels on rendered fixtures
(the analogues of python/app.py:89-234 with SURVEY.md §7.4.3 quirks)."""

import numpy as np

from pdf_parser_spark.kernels.glyphs import (
    ALPHABET,
    decode_line,
    decode_page_text,
    decode_region,
    render_line,
    LINE_STEP,
    TEXT_MARGIN_X,
    TEXT_MARGIN_Y,
)
from pdf_parser_spark.kernels.pixel import (
    component_bboxes,
    connected_components,
    dilate_rect,
    erode_rect,
    threshold_binary_otsu,
)
from pdf_parser_spark.kernels.raster import decode, detect_kind, encode
from pdf_parser_spark.kernels.tables import (
    _line_masks,
    detect_table_bboxes,
    extract_table,
    get_tables_data,
)
from pdf_parser_spark.synth import TableSpec, make_pdf_doc, render_table


def blank_page(h=400, w=700):
    return np.full((h, w), 255, dtype=np.uint8)


def test_glyph_roundtrip_all_chars():
    page = blank_page(40, 8 * (len(ALPHABET) + 4) + 16)
    render_line(page, 8, 10, ALPHABET)
    assert decode_line(page, 8, 10) == ALPHABET


def test_glyph_roundtrip_sentence():
    page = blank_page()
    text = "1. The supplier shall deliver. **End of Clauses**"
    render_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y, text)
    assert decode_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y) == text


def test_page_text_roundtrip():
    page = blank_page()
    lines = ["INTRODUCTION.", "1.", "The supplier shall deliver goods."]
    for k, ln in enumerate(lines):
        render_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y + k * LINE_STEP, ln)
    assert decode_page_text(page) == "\n".join(lines)


def test_raster_container_roundtrip():
    pages = [blank_page(50, 60), blank_page(70, 80)]
    pages[0][10, 10] = 0
    blob = encode(pages)
    out = decode(blob)
    assert len(out) == 2
    assert (out[0] == pages[0]).all() and (out[1] == pages[1]).all()
    assert detect_kind(blob) == "pdf"
    assert detect_kind(b"<!DOCTYPE html><html>") == "html"
    assert detect_kind(b"\x00\x01garbage") == "unknown"


def simple_spec(cells, x0=60, y0=40):
    n_cols = len(cells[0])
    return TableSpec(
        x0=x0,
        y0=y0,
        col_widths=[max(530 // n_cols + 1, 80)] * n_cols,
        row_heights=[26] * len(cells),
        cells=cells,
    )


def test_table_grid_extraction():
    page = blank_page(400, 700)
    cells = [["item", "qty"], ["net", "gross"], ["a1", "b2"]]
    spec = simple_spec(cells)
    render_table(page, spec)

    bboxes = detect_table_bboxes(page)
    assert len(bboxes) == 1
    l, t, r, b = bboxes[0]
    assert abs(l - spec.x0) <= 1 and abs(t - spec.y0) <= 1
    assert abs(r - (spec.x0 + spec.width)) <= 1
    assert abs(b - (spec.y0 + spec.height)) <= 1

    grid = extract_table(page)
    # rows come back REVERSED (python/app.py:207 quirk O3)
    assert grid == [["a1", "b2"], ["net", "gross"], ["item", "qty"]]


def test_table_empty_cell_and_shifted_cell():
    page = blank_page(420, 700)
    cells = [["item", "", "x"], ["a1", "b2", "c3"]]
    spec = simple_spec(cells)
    spec.col_widths = [180, 180, 180]
    spec.shifted = {(1, 1)}  # b2 drawn off-grid -> needs the retry scan
    render_table(page, spec)
    grid = extract_table(page)
    assert grid == [["a1", "b2", "c3"], ["item", "", "x"]]


def test_single_row_table_yields_empty_grid_quirk():
    # Reference parity: a 1-row table's +/-10 crop is only ~row+21 px tall,
    # so every cell fails h < H-30 (python/app.py:183) and the grid comes
    # back EMPTY. Faithful to the reference's own behavior.
    page = blank_page(400, 700)
    render_table(page, simple_spec([["top", "one"]], y0=40))
    assert len(detect_table_bboxes(page)) == 1
    assert extract_table(page) == []


def test_first_table_only_quirk():
    page = blank_page(700, 700)
    top = simple_spec([["top", "one"], ["t2", "o2"]], y0=40)
    bottom = simple_spec([["bot", "two"], ["b2", "w2"]], y0=260)
    render_table(page, top)
    render_table(page, bottom)
    assert len(detect_table_bboxes(page)) == 2
    # F4: only the FIRST (top-most) table's grid is kept (rows reversed)
    assert extract_table(page) == [["t2", "o2"], ["top", "one"]]


def test_no_table_on_text_page():
    page = blank_page()
    for k, ln in enumerate(["INTRODUCTION.", "1.", "Body text here."]):
        render_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y + k * LINE_STEP, ln)
    assert detect_table_bboxes(page) == []
    assert extract_table(page) == []


def test_get_tables_data_on_crop_border_filter():
    # directly exercise get_tables_data on a crop: the background/margin
    # component must be dropped by the w<W-30 h<H-30 filter (app.py:183)
    page = blank_page(160, 620)
    spec = simple_spec([["item", "qty"], ["a1", "b2"]], x0=20, y0=20)
    render_table(page, spec)
    crop = page[10 : spec.y0 + spec.height + 10, 10 : spec.x0 + spec.width + 10]
    rows = get_tables_data(np.ascontiguousarray(crop))
    texts = [[c.text for c in row] for row in rows]
    assert texts == [["a1", "b2"], ["item", "qty"]]


def test_synth_pdf_doc_decodes():
    doc = make_pdf_doc(14)  # i%20==14 -> first pdf index
    pages = decode(doc.blob)
    assert len(pages) == len(doc.page_lines)
    for arr, lines in zip(pages, doc.page_lines):
        assert decode_page_text(arr).split("\n")[: len(lines)] == lines


def test_synth_tables_match_specs():
    # find a seeded doc with a table and verify extraction matches the spec
    found = 0
    for i in range(14, 400, 20):
        doc = make_pdf_doc(i)
        if not doc.table_specs:
            continue
        pages = decode(doc.blob)
        for pno, specs in doc.table_specs.items():
            grid = extract_table(pages[pno - 1])
            want = [[t for t in row] for row in specs[0].cells][::-1]
            assert grid == want, f"doc {i} page {pno}"
            found += 1
        if found >= 3:
            break
    assert found >= 3


def _uint8_line_masks(gray):
    """The ruling-line masks as the reference computes them: Otsu ink,
    then erode x3 / dilate x3 per axis with the uint8 min/max filters."""
    ink = 255 - threshold_binary_otsu(gray)
    length = max(2, gray.shape[1] // 100)
    hor = dilate_rect(erode_rect(ink, length, 1, 3), length, 1, 3)
    ver = dilate_rect(erode_rect(ink, 1, length, 3), 1, length, 3)
    return hor, ver


def _painted_chain_bboxes(gray):
    """detect_table_bboxes as the painted chain it replaced: Otsu ink,
    row and column openings, CCL of their union, component boxes, and the
    horizontal-and-vertical membership check, in label order."""
    w = gray.shape[1]
    hor, ver = _uint8_line_masks(gray)
    labels, n = connected_components(np.maximum(hor, ver))
    out = []
    for i, (x, y, bw, bh) in enumerate(component_bboxes(labels, n), start=1):
        if bw < max(20, w // 10) or bh < 20:
            continue
        comp = labels == i
        if hor[comp].any() and ver[comp].any():
            out.append((x, y, x + bw, y + bh))
    return out


def _grid(page, xs, ys, t):
    """Ruled grid with lines ``t`` px thick at columns ``xs``, rows ``ys``."""
    for x in xs:
        page[ys[0] : ys[-1] + t, x : x + t] = 0
    for y in ys:
        page[y : y + t, xs[0] : xs[-1] + t] = 0


def _opened(page, win, axis, at, lo, hi):
    """Ink whose opening (window ``win``) is [lo, hi) along ``axis`` at
    row/column ``at``: an even window moves runs one pixel on, so draw
    them one pixel back."""
    d = 1 - win % 2
    if axis == 1:
        page[at, lo - d : hi - d] = 0
    else:
        page[lo - d : hi - d, at] = 0


def _detection_pages():
    rng = np.random.Generator(np.random.PCG64(41))
    pages = []
    for w in (650, 750, 850):  # w//100 = 6, 7, 8 -> window 16, 19, 22
        win = 3 * (w // 100 - 1) + 1
        # two tables, the top one to the right; lines 1-3 px
        page = blank_page(420, w)
        _grid(page, [300, 380, 470], [30, 60, 90], 1)
        _grid(page, [20, 120, 220, 320], [200, 228, 256, 284], 2)
        _grid(page, [420, 520], [330, 400], 3)
        render_line(page, 30, 150, "TABLE 1 follows.")
        pages.append(page)
        # a frame on every border; stubs win-1, win, win+1 long off lines
        page = blank_page(300, w)
        _grid(page, [0, w // 2, w - 1], [0, 150, 299], 1)
        for k, n in enumerate((win - 1, win, win + 1)):
            page[20 + 10 * k, w // 2 + 1 : w // 2 + 1 + n] = 0
            page[40 + 10 * k, 40 : 40 + n] = 0
            page[160 + 10 * k, w - 1 - n : w - 1] = 0
            page[150 - n : 150, 60 + 10 * k] = 0
            page[200 : 200 + n, 100 + 10 * k] = 0
        pages.append(page)
        # segments that touch only diagonally, in both orientations:
        # alone each fails a test; joined they would pass both
        page = blank_page(300, w)
        _opened(page, win, 1, 50, 100, 200)
        _opened(page, win, 0, 200, 51, 120)
        _opened(page, win, 1, 250, 300, 400)
        _opened(page, win, 0, 299, 150, 250)
        pages.append(page)
        # side-only contacts, which the even window's shift makes out of
        # a one-pixel gap: beside a vertical run's first row (from the
        # left and from the right, under a covering row) and lower down
        page = blank_page(300, w)
        for x, lo, hi in ((120, 20, 120), (200, 201, 301)):
            _opened(page, win, 1, 19, lo, hi)
            _opened(page, win, 1, 20, lo, hi)
            _opened(page, win, 0, x, 20, 80)
        for x, y, lo, hi in ((350, 130, 351, 451), (600, 230, 500, 600)):
            _opened(page, win, 0, x, y - 30, y + 30)
            _opened(page, win, 1, y, lo, hi)
        pages.append(page)
        # staircases: a horizontal-only and a vertical-only component
        # large in both axes (every run across them is under win)
        page = blank_page(400, w)
        for k in range(45):
            page[20 + k, 20 + 2 * k : 50 + 2 * k] = 0
            page[100 + 2 * k : 130 + 2 * k, 300 + k] = 0
        pages.append(page)
        # line soup, some at the borders
        for _ in range(3):
            page = blank_page(int(rng.integers(120, 360)), w)
            h = page.shape[0]
            for _ in range(int(rng.integers(5, 25))):
                t = int(rng.integers(1, 4))
                if rng.random() < 0.5:
                    y, x = int(rng.integers(0, h)), int(rng.integers(-40, w))
                    page[y : y + t, max(x, 0) : x + int(rng.integers(win - 2, w))] = 0
                else:
                    y, x = int(rng.integers(-40, h)), int(rng.integers(0, w))
                    page[max(y, 0) : y + int(rng.integers(win - 2, h)), x : x + t] = 0
            pages.append(page)
    # synth table pages, as the corpus renders them
    for i in (14, 34, 54):
        doc = make_pdf_doc(i)
        pages.extend(decode(doc.blob)[pno - 1] for pno in doc.table_specs)
    # dense pages: all ink, a 4-px grid, 50% noise, alternating rows
    h, w = 1000, 800
    dense = [np.zeros((h, w), np.uint8)]
    grid = blank_page(h, w)
    grid[::4] = 0
    grid[:, ::4] = 0
    dense.append(grid)
    dense.append(np.where(rng.random((h, w)) < 0.5, 0, 255).astype(np.uint8))
    stripes = blank_page(h, w)
    stripes[::2] = 0
    dense.append(stripes)
    pages.extend(dense)
    # degenerate shapes
    pages.extend([
        np.zeros((1, 1), np.uint8), blank_page(1, 1), np.zeros((1, 700), np.uint8),
        np.zeros((300, 1), np.uint8), blank_page(1, 700),
    ])
    return pages


def test_detection_matches_painted_chain():
    """The run-graph detection is bit-identical to the painted chain:
    both window parities, 1-3 px lines, border lines, runs around the
    window length, diagonal-only contacts, single-axis components,
    side-only contacts, tables out of x order, dense and degenerate
    pages."""
    n_boxes = 0
    for k, page in enumerate(_detection_pages()):
        want = _painted_chain_bboxes(page)
        assert detect_table_bboxes(page) == want, (k, page.shape)
        n_boxes += len(want)
    assert n_boxes >= 20


def test_line_masks_match_uint8_chain():
    """The grid pass's painted long runs equal the uint8 erode -> dilate
    chain on the synth table crops and on the dense 1000x800 pages."""
    crops = []
    for i in (14, 34, 54):
        doc = make_pdf_doc(i)
        for pno in doc.table_specs:
            page = decode(doc.blob)[pno - 1]
            for left, top, right, bottom in detect_table_bboxes(page):
                crops.append(page[max(0, top - 10) : bottom + 10, max(0, left - 10) : right + 10])
    dense = [p for p in _detection_pages() if p.shape == (1000, 800)]
    assert len(crops) >= 3 and len(dense) == 4
    for k, gray in enumerate(crops + dense):
        hor, ver = _line_masks(gray)
        want_hor, want_ver = _uint8_line_masks(gray)
        assert np.array_equal(hor, want_hor) and np.array_equal(ver, want_ver), (k, gray.shape)
