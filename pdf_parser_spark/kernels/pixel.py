"""Pixel-domain primitives in pure numpy (no cv2 in the sandbox —
SURVEY.md §7.0). These re-express the reference's OpenCV calls
(python/app.py:115-207) with explicitly specified border/tie-break
semantics; our unit tests are the spec (SURVEY.md §7.4.4).

Conventions:
- grayscale uint8, 0 = ink/black, 255 = paper/white (input pages);
- "binary" images are uint8 with values in {0, 255};
- morphology border handling: out-of-bounds = 0 for both erosion (min)
  and dilation (max). With a constant-0 border, k iterations of a
  length-L min/max filter equal one pass with window k*(L-1)+1, which we
  exploit for speed.

Run primitives: ``row_runs`` is the one run extractor (row-major
(rows, starts, ends) of a bool mask); ``long_runs`` gives the runs that a
1-D ``open_rect_binary`` would paint without painting them;
``run_links`` pairs overlapping runs of consecutive rows (``ranges``
expands such index ranges) and ``label_edges`` labels the components of such a run graph. The CCL and
the page-level table detection (kernels/tables.py) are built from them.
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


def _vanherk(ap: np.ndarray, window: int, op, identity: int, axis: int = 1) -> np.ndarray:
    """van Herk/Gil-Werman running min/max over axis=1 of the padded
    array: block prefix + suffix scans, then one elementwise combine —
    3 passes total, O(1) memory reads per pixel regardless of window.
    (A sliding_window_view + reduce formulation reads every pixel
    ``window`` times; at 1 MB pages x 32 parallel Python workers that
    saturates DRAM bandwidth and *inverts* core scaling — measured
    local[32] slower than local[8] before this.)

    Axis-native (no transposes): blocks are formed by reshaping the
    filtered axis itself, so every accumulate pass streams row-contiguous
    memory. Returns op over [j, j+window-1] for j in 0..m-window."""
    if axis == 1:
        h, m = ap.shape
        nb = -(-m // window)
        padded = np.full((h, nb * window), identity, dtype=ap.dtype)
        padded[:, :m] = ap
        blocks = padded.reshape(h, nb, window)
        pref = op.accumulate(blocks, axis=2).reshape(h, nb * window)
        suff = op.accumulate(blocks[:, :, ::-1], axis=2)[:, :, ::-1].reshape(
            h, nb * window
        )
        return op(suff[:, : m - window + 1], pref[:, window - 1 : m])
    m, w_cols = ap.shape
    nb = -(-m // window)
    padded = np.full((nb * window, w_cols), identity, dtype=ap.dtype)
    padded[:m, :] = ap
    blocks = padded.reshape(nb, window, w_cols)
    pref = op.accumulate(blocks, axis=1).reshape(nb * window, w_cols)
    suff = op.accumulate(blocks[:, ::-1, :], axis=1)[:, ::-1, :].reshape(
        nb * window, w_cols
    )
    return op(suff[: m - window + 1, :], pref[window - 1 : m, :])


def _sliding_1d(
    a: np.ndarray, window: int, axis: int, op, identity: int
) -> np.ndarray:
    """Sliding-window min/max along ``axis`` with constant-0 padding and
    cv2-style anchor (window // 2)."""
    if window <= 1:
        return a
    pad_before = window // 2
    pad_after = window - 1 - pad_before
    pads = [(0, 0), (0, 0)]
    pads[axis] = (pad_before, pad_after)
    ap = np.pad(a, pads, mode="constant", constant_values=0)
    return _vanherk(ap, window, op, identity, axis)


def _sliding_min_1d(a: np.ndarray, window: int, axis: int) -> np.ndarray:
    return _sliding_1d(a, window, axis, np.minimum, 255)


def _sliding_max_1d(a: np.ndarray, window: int, axis: int) -> np.ndarray:
    return _sliding_1d(a, window, axis, np.maximum, 0)


def erode_rect(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Erosion (min filter) with a kw x kh rectangular kernel, ``iterations``
    times. Equivalent single-pass window: n*(k-1)+1 per axis (valid because
    the constant-0 border is the global minimum)."""
    ww = iterations * (kw - 1) + 1
    wh = iterations * (kh - 1) + 1
    out = _sliding_min_1d(img, ww, axis=1) if ww > 1 else img
    if wh > 1:
        out = _sliding_min_1d(out, wh, axis=0)
    return out


def dilate_rect(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    ww = iterations * (kw - 1) + 1
    wh = iterations * (kh - 1) + 1
    out = _sliding_max_1d(img, ww, axis=1) if ww > 1 else img
    if wh > 1:
        out = _sliding_max_1d(out, wh, axis=0)
    return out


def _sliding_bool(bp: np.ndarray, window: int, axis: int, op, identity: bool, pad_value: bool) -> np.ndarray:
    """Sliding bool AND/OR via van Herk scans, ALLOCATION-LEAN: the
    border pad and the block pad share one buffer, both scans accumulate
    in place (the suffix on a contiguous reversed copy), and only the
    combined output is a fresh array. The original formulation's six
    full-frame array writes per pass made the kernel memory-bandwidth
    bound at high core counts (this is the hottest per-page loop)."""
    if window <= 1:
        return bp
    pad_before = window // 2
    if axis == 1:
        h, m = bp.shape
        mp = m + window - 1
        nb = -(-mp // window)
        buf = np.empty((h, nb * window), dtype=bool)
        buf[:, :pad_before] = pad_value
        buf[:, pad_before : pad_before + m] = bp
        buf[:, pad_before + m : mp] = pad_value  # border pad (after)
        buf[:, mp:] = identity                   # block padding
        blocks = buf.reshape(h, nb, window)
        rev = np.ascontiguousarray(blocks[:, :, ::-1])
        op.accumulate(blocks, axis=2, out=blocks)  # prefix, in place
        op.accumulate(rev, axis=2, out=rev)        # suffix, in place
        suff = rev[:, :, ::-1].reshape(h, nb * window)
        return op(suff[:, : mp - window + 1], buf[:, window - 1 : mp])
    m, w_cols = bp.shape
    mp = m + window - 1
    nb = -(-mp // window)
    buf = np.empty((nb * window, w_cols), dtype=bool)
    buf[:pad_before] = pad_value
    buf[pad_before : pad_before + m] = bp
    buf[pad_before + m : mp] = pad_value
    buf[mp:] = identity
    blocks = buf.reshape(nb, window, w_cols)
    rev = np.ascontiguousarray(blocks[:, ::-1, :])
    op.accumulate(blocks, axis=1, out=blocks)
    op.accumulate(rev, axis=1, out=rev)
    suff = rev[:, ::-1, :].reshape(nb * window, w_cols)
    return op(suff[: mp - window + 1], buf[window - 1 : mp])


def open_rect_binary(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Morphological opening (erode x n then dilate x n) for BINARY
    {0,255} images: identical output to
    ``dilate_rect(erode_rect(img, kw, kh, n), kw, kh, n)`` (pinned by
    test_pixel), but the whole chain runs in the bool domain — one
    uint8->bool conversion, logical accumulates throughout, one
    conversion back. This is the ruling-line-mask hot path (erode x3 /
    dilate x3 per axis per page, python/app.py:119-137)."""
    ww = iterations * (kw - 1) + 1
    wh = iterations * (kh - 1) + 1
    b = img != 0
    # erosion: constant-0 border (False), min == AND
    if ww > 1:
        b = _sliding_bool(b, ww, 1, np.logical_and, True, False)
    if wh > 1:
        b = _sliding_bool(b, wh, 0, np.logical_and, True, False)
    # dilation: constant-0 border, max == OR
    if ww > 1:
        b = _sliding_bool(b, ww, 1, np.logical_or, False, False)
    if wh > 1:
        b = _sliding_bool(b, wh, 0, np.logical_or, False, False)
    return b.astype(np.uint8) * 255


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
    """The row runs that ``open_rect_binary(mask, kw, 1, n)`` paints, for
    ``window = n*(kw-1)+1``, without painting them (pinned by test_pixel).
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
