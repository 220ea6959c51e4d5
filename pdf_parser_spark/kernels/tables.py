"""Table-structure detection and cell-grid reconstruction — the engine's
re-expression of the reference's get_table_bounding_box / get_tables_data /
extract_table chain (python/app.py:89-234), in pure numpy via the pixel
kernels. Reference quirks preserved deliberately (SURVEY.md §7.4.3):

- box "sort": the reference's get_boxes claims top-to-bottom but sorts by
  the x coordinate because the computed flag is never used
  (python/app.py:156-175, quirk O2) — we stable-sort by x too;
- rows grouped by EXACT bbox-top equality (python/app.py:196-205, A2);
- the row list is emitted REVERSED (python/app.py:207, O3);
- only the FIRST detected table's grid is kept; cells reduced to text
  (python/app.py:227-230, F4);
- cell filter w < W-30 and h < H-30 drops the page-border component
  (python/app.py:183, F1);
- crop margin of +/-10 px around the detected table bbox, clamped
  (python/app.py:219, P11);
- empty first-pass OCR retries with the offset-scanning pass
  (python/app.py:190-191, F2).

Both passes find the ruling lines as long ink runs (``pixel.long_runs``),
the runs a 1-D opening keeps. Page-level detection
(``detect_table_bboxes``) never paints a frame: it joins the page's runs
as a run graph. The grid pass on the crop (``get_tables_data``) paints
the crop's runs as the line masks (``open_rect_binary``), because it
needs the cell interiors as pixels for the erode, Otsu, CCL and OCR that
follow; its Otsu threshold and window come from the crop, so the page's
runs cannot stand in for it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .glyphs import decode_region
from .pixel import (
    component_bboxes,
    connected_components,
    erode_rect,
    label_edges,
    long_runs,
    open_rect_binary,
    otsu_threshold,
    ranges,
    run_links,
    threshold_binary_otsu,
)

MIN_TABLE_FRAC = 10  # table bbox must span >= width//10 px in both axes


def _line_masks(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Horizontal/vertical ruling-line masks of a table crop
    (python/app.py:119-137): Otsu binarize, invert so ink=255, then
    erode x3 / dilate x3 with a (width//100, 1) resp. (1, width//100)
    rectangular kernel."""
    binary = threshold_binary_otsu(gray)
    ink = 255 - binary
    length = max(2, gray.shape[1] // 100)
    # open_rect_binary paints the ink runs at least 3*(length-1)+1 long,
    # which is what dilate_rect(erode_rect(...)) keeps of binary input
    # (pinned by test_glyphs_tables against the uint8 chain)
    hor = open_rect_binary(ink, length, 1, 3)
    ver = open_rect_binary(ink, 1, length, 3)
    return hor, ver


def _run_at(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray, stride: int,
    r: np.ndarray, c: np.ndarray,
) -> np.ndarray:
    """Index of the run covering (row r, column c), or -1. Off-page
    points miss; runs are row-major with ends < stride."""
    k = np.searchsorted(rows * stride + starts, r * stride + c, side="right") - 1
    return np.where((k >= 0) & (rows[k] == r) & (ends[k] > c), k, -1)


def detect_table_bboxes(gray: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Detect table regions on a full page — our from-scratch replacement
    for img2table's extract_tables (python/app.py:89-102, P1): connected
    components of the combined ruling-line mask; keep components that are
    large in both axes and contain both horizontal and vertical lines.
    Returns (left, top, right, bottom) boxes in first-encounter (row-major,
    i.e. top-most first) order.

    The line masks are the Otsu ink opened along rows and along columns
    with window 3*(L-1)+1, L = max(2, width//100) (erode x3 / dilate x3,
    python/app.py:119-137). Nothing is painted: the masks are their long
    runs (``pixel.long_runs``), each run is a node, and two nodes join
    when their pixels overlap or are 4-adjacent — the CCL of the combined
    mask, bit for bit (pinned against the painted chain in
    test_glyphs_tables). A component's box, its has-horizontal and
    has-vertical flags and its first pixel come from its nodes' extents.

    The joins stay near-linear on dense pages. Horizontal runs join
    across rows with ``run_links`` (vertical runs likewise). A vertical
    run at column x over rows [c, d) meets the horizontal runs at (x, c-1)
    and (x, d) and, on its own rows, those covering x-1, x or x+1. Only
    the pixels of its first row are looked up; a lower row needs its own
    join only where a horizontal run is not covered from the row above
    near x, otherwise it already joins through that covering run. So the
    second lookup walks only the uncovered-from-above spans of the
    horizontal runs, one lookup per column: an all-ink page costs one
    row, not every (horizontal, vertical) pair."""
    h, w = gray.shape
    ink = gray <= otsu_threshold(gray)
    win = 3 * (max(2, w // 100) - 1) + 1
    hy, ha, hb = long_runs(ink, win)  # horizontal lines: row, [ha, hb)
    vx, vc, vd = long_runs(ink.T, win)  # vertical lines: column, [vc, vd)
    nh, nv = len(hy), len(vx)
    if nh == 0 or nv == 0:
        return []
    below, above = run_links(hy, ha, hb, w)
    vi, vj = run_links(vx, vc, vd, h)

    # a vertical run's ends and the three pixels of its first row
    k1 = _run_at(
        hy, ha, hb, w + 1,
        np.concatenate([vc - 1, vd, vc, vc, vc]),
        np.concatenate([vx, vx, vx - 1, vx, vx + 1]),
    )
    v1 = np.tile(np.arange(nv), 5)

    # spans of each horizontal run not covered by the row above: [ha, hb)
    # minus its run_links partners, as the sorted gap ends on both sides
    stride = w + 1
    own = np.arange(nh) * stride
    gap_lo = np.sort(np.concatenate([own + ha, below * stride + hb[above]]))
    gap_hi = np.sort(np.concatenate([below * stride + ha[above], own + hb]))
    seg, p = np.divmod(gap_lo, stride)
    q = gap_hi - seg * stride
    keep = q > p
    seg, p, q = seg[keep], p[keep], q[keep]
    # every column x with x-1, x or x+1 in a span: one lookup each
    span, x2 = ranges(p - 1, q - p + 2)
    k2 = seg[span]
    v2 = _run_at(vx, vc, vd, h + 1, x2, hy[k2])

    m1, m2 = k1 >= 0, v2 >= 0
    lab = label_edges(
        nh + nv,
        np.concatenate([below, vi + nh, k1[m1], k2[m2]]),
        np.concatenate([above, vj + nh, v1[m1] + nh, v2[m2] + nh]),
    )

    # a component's label is its smallest node, so it has a horizontal run
    # iff its label is one; per-component extents of the node boxes
    has_ver = np.zeros(nh + nv, dtype=bool)
    has_ver[lab[nh:]] = True
    comps = np.flatnonzero(has_ver[:nh] & (lab[:nh] == np.arange(nh)))
    x0 = np.concatenate([ha, vx])
    y0 = np.concatenate([hy, vc])
    big = np.iinfo(np.int64).max
    left, first = np.full(nh + nv, big), np.full(nh + nv, big)
    right, bottom = np.zeros(nh + nv, np.int64), np.zeros(nh + nv, np.int64)
    np.minimum.at(left, lab, x0)
    np.minimum.at(first, lab, y0 * w + x0)  # its row is the top
    top = first // w
    np.maximum.at(right, lab, np.concatenate([hb, vx + 1]))
    np.maximum.at(bottom, lab, np.concatenate([hy + 1, vd]))

    out: list[tuple[int, int, int, int]] = []
    min_span = max(20, w // MIN_TABLE_FRAC)
    for i in comps[np.argsort(first[comps])]:
        # height floor is absolute (a single-row grid is ~26 px tall)
        if right[i] - left[i] < min_span or bottom[i] - top[i] < 20:
            continue
        out.append((int(left[i]), int(top[i]), int(right[i]), int(bottom[i])))
    return out


@dataclass
class Cell:
    box: tuple[int, int, int, int]  # x1, y1, x2, y2 (python/app.py:193)
    text: str


def get_tables_data(gray: np.ndarray) -> list[list[Cell]]:
    """Reconstruct the cell grid of a (cropped) table image — the
    re-expression of get_tables_data (python/app.py:115-207)."""
    image_h, image_w = gray.shape
    hor, ver = _line_masks(gray)

    # combine = addWeighted(ver,.5,hor,.5); erode(~combine,(2,2)) x2; Otsu
    # (python/app.py:142-151). uint16 to avoid overflow; //2 matches the
    # saturate-free case for binary inputs.
    combine = ((ver.astype(np.uint16) + hor.astype(np.uint16)) // 2).astype(np.uint8)
    inv = 255 - combine
    eroded = erode_rect(inv, 2, 2, 2)
    grid = threshold_binary_otsu(eroded)

    # white components = cell interiors + page background
    # (python/app.py:154 findContours on white regions)
    labels, n = connected_components(grid)
    boxes = component_bboxes(labels, n)

    # "top-to-bottom" sort that actually sorts by x (quirk O2); Python's
    # sorted is stable, matching the reference's sorted(zip(...)).
    boxes = sorted(boxes, key=lambda b: b[0])

    final_box: list[Cell] = []
    for x, y, bw, bh in boxes:
        # drop the page-border/background component (python/app.py:183)
        if bw < image_w - 30 and bh < image_h - 30:
            crop = gray[y : y + bh, x : x + bw]
            text = decode_region(crop, scan_offsets=False)
            if not text.strip():
                # empty-OCR retry with the scanning config (app.py:190-191)
                text = decode_region(crop, scan_offsets=True)
            final_box.append(Cell(box=(x, y, x + bw, y + bh), text=text))

    # group rows by EXACT bbox top (python/app.py:196-205), preserving the
    # x-sorted cell order within a row, then reverse the row list (:207)
    table_data: list[list[Cell]] = []
    seen_tops: list[int] = []
    for cell in final_box:
        top = cell.box[1]
        if top not in seen_tops:
            row = [c for c in final_box if c.box[1] == top]
            seen_tops.append(top)
            table_data.append(row)
    return table_data[::-1]


def extract_table(gray: np.ndarray) -> list[list[str]]:
    """Full per-page table extraction — the re-expression of extract_table
    (python/app.py:211-234): detect bboxes, crop the page at the FIRST
    table's bbox with a +/-10 margin, reconstruct its grid and strip
    cells to text (quirk F4). The reference grids every table and keeps
    the first; get_tables_data is pure and never raises, so gridding
    only the first gives the same output."""
    bounding = detect_table_bboxes(gray)
    if not bounding:
        return []
    h, w = gray.shape
    left, top, right, bottom = bounding[0]
    cropped = gray[
        max(0, top - 10) : min(h, bottom + 10),
        max(0, left - 10) : min(w, right + 10),
    ]
    return [[cell.text for cell in row] for row in get_tables_data(cropped)]
