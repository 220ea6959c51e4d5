"""Pixel-domain primitives in pure numpy (no cv2 in the sandbox —
SURVEY.md §7.0). These re-express the reference's OpenCV calls
(python/app.py:115-207) with explicitly specified border/tie-break
semantics; our unit tests are the spec (SURVEY.md §7.4.4).

Conventions:
- grayscale uint8, 0 = ink/black, 255 = paper/white (input pages);
- "binary" images are uint8 with values in {0, 255};
- morphology border handling: out-of-bounds = 0 for both erosion (min)
  and dilation (max), anchor window // 2 as in cv2. With a constant-0
  border, k iterations of a length-L min/max filter equal one pass with
  window k*(L-1)+1, which we exploit for speed.

One morphology per mask kind: ``erode_rect``/``dilate_rect`` take the
min/max of any uint8 image over shifted views (small windows only), and
``open_rect_binary``, the 1-D opening of a binary image, paints its long
ink runs.

Run primitives: ``row_runs`` is the one run extractor (row-major
(rows, starts, ends) of a bool mask); ``long_runs`` gives the runs that a
1-D opening keeps; ``run_links`` pairs overlapping runs of consecutive
rows (``ranges`` expands such index ranges) and ``label_edges`` labels the
components of such a run graph. The CCL, the line masks and the
page-level table detection (kernels/tables.py) are built from them.
"""

from __future__ import annotations

import numpy as np


def otsu_threshold(img: np.ndarray) -> int:
    """Otsu's method on a 256-bin histogram: threshold t maximizing
    inter-class variance; pixels > t are foreground (255). Ties broken by
    the LOWEST t (our pinned spec; cv2's tie-break is unspecified)."""
    hist = np.bincount(img.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 0
    omega = np.cumsum(hist)  # class-0 mass for t = 0..255
    mu = np.cumsum(hist * np.arange(256))
    mu_t = mu[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (mu_t * omega - mu) ** 2 / (omega * (total - omega))
    sigma_b = np.nan_to_num(sigma_b, nan=-1.0, posinf=-1.0, neginf=-1.0)
    return int(np.argmax(sigma_b))  # argmax returns the first (lowest) max


def threshold_binary_otsu(img: np.ndarray) -> np.ndarray:
    """cv2.threshold(img, 128, 255, BINARY|OTSU) equivalent: the 128 is
    ignored when OTSU is set (python/app.py:119,151)."""
    t = otsu_threshold(img)
    return np.where(img > t, np.uint8(255), np.uint8(0))


def _sliding_1d(a: np.ndarray, window: int, axis: int, op) -> np.ndarray:
    """``op`` (np.minimum or np.maximum) over the ``window`` pixels at each
    position along ``axis``: constant-0 border, cv2 anchor window // 2,
    one in-place pass per shifted view of the padded array."""
    if window <= 1:
        return a
    n = a.shape[axis]
    pads = [(0, 0), (0, 0)]
    pads[axis] = (window // 2, (window - 1) // 2)
    ap = np.pad(a, pads).swapaxes(0, axis)
    out = op(ap[:n], ap[1 : n + 1])
    for k in range(2, window):
        op(out, ap[k : k + n], out=out)
    return out.swapaxes(0, axis)


def erode_rect(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Erosion (min filter) with a kw x kh rectangular kernel, ``iterations``
    times. Equivalent single-pass window: n*(k-1)+1 per axis (valid because
    the constant-0 border is the global minimum). Each pixel is read
    ``window`` times per axis; the only production window is 3 (the grid
    pass's 2x2 x2 erosion), where that costs less than running-min scans,
    and the long opening windows go through ``open_rect_binary``."""
    out = _sliding_1d(img, iterations * (kw - 1) + 1, 1, np.minimum)
    return _sliding_1d(out, iterations * (kh - 1) + 1, 0, np.minimum)


def dilate_rect(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Dilation (max filter), the twin of ``erode_rect``."""
    out = _sliding_1d(img, iterations * (kw - 1) + 1, 1, np.maximum)
    return _sliding_1d(out, iterations * (kh - 1) + 1, 0, np.maximum)


def open_rect_binary(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Morphological opening (erode x n then dilate x n) of a BINARY
    {0,255} image with a 1-D kernel (kw == 1 or kh == 1): the ruling-line
    masks, erode x3 / dilate x3 per axis (python/app.py:119-137). Paints
    the ``long_runs`` of the ink, which is what
    ``dilate_rect(erode_rect(img, kw, kh, n), kw, kh, n)`` keeps (pinned
    by test_pixel); a column kernel is the row kernel of the transpose."""
    if kw > 1 and kh > 1:
        raise ValueError(f"open_rect_binary needs a 1-D kernel, got {kw}x{kh}")
    if kh > 1:
        return open_rect_binary(img.T, kh, kw, iterations).T
    w = img.shape[1]
    rows, starts, ends = long_runs(img != 0, iterations * (kw - 1) + 1)
    out = np.zeros(img.shape, dtype=np.uint8)
    out.ravel()[ranges(rows * w + starts, ends - starts)[1]] = 255
    return out


def row_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Runs of True along each row of a 2-D bool mask, in row-major order:
    (rows, starts, ends), ends exclusive. One flatnonzero over the
    transitions of the mask padded with a False column on each side; every
    row opens and closes at False, so the flat transitions alternate
    start, end."""
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    rows, cols = np.divmod(np.flatnonzero(padded[:, 1:] != padded[:, :-1]), w + 1)
    assert (rows[0::2] == rows[1::2]).all()
    return rows[0::2], cols[0::2], cols[1::2]


def long_runs(mask: np.ndarray, window: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The row runs that a 1-D opening of ``mask`` keeps, for
    ``window = n*(kw-1)+1`` (pinned against the uint8 erode -> dilate
    chain by test_pixel).
    A 1-D erosion then dilation with a constant-0 border keeps exactly
    the runs at least ``window`` long. Both passes anchor at window // 2,
    so an even window moves every kept run one pixel right, and a run
    touching the right border loses its last pixel."""
    rows, starts, ends = row_runs(mask)
    keep = ends - starts >= window
    rows, starts, ends = rows[keep], starts[keep], ends[keep]
    if window % 2 == 0:
        starts = starts + 1
        ends = np.minimum(ends + 1, mask.shape[1])
    return rows, starts, ends


def ranges(lo: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Expand the ranges [lo[k], lo[k] + cnt[k]): for every member, the
    index k of its range and its value."""
    owner = np.repeat(np.arange(len(cnt)), cnt)
    return owner, np.repeat(lo + cnt - np.cumsum(cnt), cnt) + np.arange(len(owner))


def run_links(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray]:
    """All pairs (i, j) of runs that are 4-adjacent across rows:
    rows[j] == rows[i] - 1 and [starts, ends) intersect. Runs must be in
    row-major order with ends <= width (as ``row_runs`` returns them).
    The runs of row y-1 overlapping run i form a contiguous range, found
    with two searchsorted calls on (row, column) keys."""
    stride = width + 1
    lo = np.searchsorted(rows * stride + ends, (rows - 1) * stride + starts, side="right")
    hi = np.searchsorted(rows * stride + starts, (rows - 1) * stride + ends, side="left")
    return ranges(lo, np.maximum(hi - lo, 0))


def label_edges(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Connected components of the graph on nodes 0..n-1 with edges
    (a[k], b[k]): each node's label is the smallest node of its
    component. Vectorized hook-and-compress: each round every root hooks
    under the smallest root it shares an edge with, then pointer jumping
    flattens the forest; the number of roots falls every round."""
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        split = la != lb
        if not split.any():
            return lab
        a, b, la, lb = a[split], b[split], la[split], lb[split]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def connected_components(binary: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected component labeling of nonzero pixels (our spec's
    replacement for cv2.findContours on white regions, python/app.py:154).
    Returns (labels int32 array with 0 = background, n_labels), labels
    numbered in first-encounter (row-major) order.

    Run-based: the runs of ``row_runs`` are the nodes, ``run_links`` the
    edges, ``label_edges`` the union-find; no per-pixel work but the final
    paint.
    """
    h, w = binary.shape
    labels = np.zeros((h, w), dtype=np.int32)
    rows, starts, ends = row_runs(binary != 0)
    if len(rows) == 0:
        return labels, 0
    # a component's label is its smallest run index, i.e. its first run in
    # row-major order, so ascending roots are first-encounter order
    roots = label_edges(len(rows), *run_links(rows, starts, ends, w))
    uniq, run_labels = np.unique(roots, return_inverse=True)
    run, flat = ranges(rows * w + starts, ends - starts)
    labels.ravel()[flat] = run_labels[run] + 1
    return labels, len(uniq)


def component_bboxes(labels: np.ndarray, n: int) -> list[tuple[int, int, int, int]]:
    """Per-label bounding boxes as (x, y, w, h) — cv2.boundingRect shape
    (python/app.py:167,181) — indexed in label order (first-encounter
    row-major, our pinned contour-order spec)."""
    ys, xs = np.nonzero(labels)
    if len(ys) == 0:
        return []
    lab = labels[ys, xs]
    big = np.iinfo(np.int64).max
    x0 = np.full(n + 1, big)
    y0 = np.full(n + 1, big)
    x1 = np.full(n + 1, -1)
    y1 = np.full(n + 1, -1)
    np.minimum.at(x0, lab, xs)
    np.minimum.at(y0, lab, ys)
    np.maximum.at(x1, lab, xs)
    np.maximum.at(y1, lab, ys)
    return [
        (int(x0[i]), int(y0[i]), int(x1[i] - x0[i] + 1), int(y1[i] - y0[i] + 1))
        if x1[i] >= 0
        else (0, 0, 0, 0)
        for i in range(1, n + 1)
    ]
