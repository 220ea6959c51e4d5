"""Pixel kernels vs hand-computed arrays (SURVEY.md §5 layer 1 — these
tests ARE the spec for the numpy morphology, since cv2 is absent)."""

import numpy as np

from pdf_parser_spark.kernels.pixel import (
    component_bboxes,
    connected_components,
    dilate_rect,
    erode_rect,
    otsu_threshold,
    threshold_binary_otsu,
)


def test_otsu_bimodal():
    img = np.array([[10] * 50 + [200] * 50], dtype=np.uint8)
    t = otsu_threshold(img)
    assert 10 <= t < 200
    b = threshold_binary_otsu(img)
    assert set(b[0, :50]) == {0} and set(b[0, 50:]) == {255}


def test_otsu_uniform():
    img = np.full((4, 4), 77, dtype=np.uint8)
    b = threshold_binary_otsu(img)
    # threshold t: only value 77; argmax of all-invalid sigma -> t=0;
    # pixels > 0 -> 255 (pinned spec)
    assert (b == 255).all()


def test_erode_removes_short_runs():
    img = np.zeros((1, 20), dtype=np.uint8)
    img[0, 2:6] = 255  # run of 4
    img[0, 10:17] = 255  # run of 7
    out = erode_rect(img, 5, 1, 1)
    assert (out[0, 2:6] == 0).all()  # 4 < 5 gone
    assert out[0, 13] == 255  # run of 7 survives at its center
    assert out[0, 12] == 255 and out[0, 14] == 255  # 7-5+1=3 survivors


def test_erode_dilate_restores_long_line():
    img = np.zeros((5, 200), dtype=np.uint8)
    img[2, 20:180] = 255
    line = dilate_rect(erode_rect(img, 9, 1, 3), 9, 1, 3)
    # effective window 3*8+1=25 (odd): symmetric shrink+regrow restores
    assert (line[2, 20:180] == 255).all()
    assert line[2, 19] == 0 and line[2, 180] == 0
    assert (line[[0, 1, 3, 4]] == 0).all()


def test_erode_iterations_equal_composition():
    rng = np.random.Generator(np.random.PCG64(7))
    img = (rng.random((30, 40)) < 0.5).astype(np.uint8) * 255
    # odd kernels have symmetric anchors -> iterated == collapsed exactly.
    # (For even kernels the two differ by a fixed sub-pixel shift; the
    # engine always uses the collapsed form, which is the pinned spec.)
    a = erode_rect(erode_rect(erode_rect(img, 5, 1, 1), 5, 1, 1), 5, 1, 1)
    b = erode_rect(img, 5, 1, 3)
    assert (a == b).all()


def test_connected_components_basic():
    img = np.array(
        [
            [1, 1, 0, 0, 1],
            [0, 1, 0, 1, 1],
            [0, 0, 0, 0, 0],
            [1, 0, 0, 0, 1],
        ],
        dtype=np.uint8,
    )
    labels, n = connected_components(img)
    assert n == 4
    # first-encounter row-major label order
    assert labels[0, 0] == 1 and labels[0, 4] == 2
    assert labels[1, 1] == 1 and labels[1, 3] == 2
    assert labels[3, 0] == 3 and labels[3, 4] == 4
    boxes = component_bboxes(labels, n)
    assert boxes[0] == (0, 0, 2, 2)
    assert boxes[1] == (3, 0, 2, 2)
    assert boxes[2] == (0, 3, 1, 1)
    assert boxes[3] == (4, 3, 1, 1)


def test_connected_components_u_shape_merge():
    # U shape: two arms that merge at the bottom must be ONE component
    img = np.zeros((5, 5), dtype=np.uint8)
    img[0:4, 0] = 1
    img[0:4, 4] = 1
    img[4, :] = 1
    labels, n = connected_components(img)
    assert n == 1
    assert component_bboxes(labels, n)[0] == (0, 0, 5, 5)


def test_connected_components_diagonal_not_connected():
    img = np.eye(3, dtype=np.uint8)
    _, n = connected_components(img)
    assert n == 3  # 4-connectivity


def test_open_rect_binary_equals_erode_then_dilate():
    """The 1-D opening is byte-identical to the uint8 erode->dilate chain
    on binary images, along rows and along columns, for both window
    parities; a 2-D kernel is refused."""
    import pytest

    from pdf_parser_spark.kernels.pixel import long_runs, open_rect_binary

    rng = np.random.Generator(np.random.PCG64(17))
    for h, w, kw, kh, it in [
        (60, 80, 8, 1, 3),  # window 22
        (60, 80, 1, 8, 3),
        (37, 53, 5, 1, 2),  # window 9
        (37, 53, 1, 5, 2),
        (10, 10, 2, 1, 1),  # window 2
        (10, 10, 1, 2, 1),
        (5, 200, 41, 1, 3),  # window 121
        (200, 5, 1, 41, 3),
    ]:
        img = (rng.integers(0, 2, (h, w), dtype=np.uint8)) * 255
        ref = dilate_rect(erode_rect(img, kw, kh, it), kw, kh, it)
        got = open_rect_binary(img, kw, kh, it)
        assert np.array_equal(got, ref), (h, w, kw, kh, it)
    with pytest.raises(ValueError):
        open_rect_binary(img, 2, 2, 1)

    # a 1-D opening keeps exactly the long runs of the run extractor
    # (moved one pixel for an even window), along rows and along columns
    def paint(shape, runs):
        out = np.zeros(shape, dtype=bool)
        for r, s, e in zip(*runs):
            assert 0 <= s < e <= shape[1]
            out[r, s:e] = True
        return out

    for k in range(2, 10):
        for it in (1, 2, 3):
            win = it * (k - 1) + 1
            # dense ink makes runs of every length up to the full row
            img = (rng.random((31, 47)) < 0.9).astype(np.uint8) * 255
            img[3] = 255  # full rows and columns touch both borders
            img[:, 5] = 255
            img[7, :win] = 255  # exactly win long at the left border ...
            img[7, win] = 0
            img[9, -win:] = 255  # ... at the right border ...
            img[9, -win - 1] = 0
            img[11, 10 : 10 + win - 1] = 255  # ... and one short, inside
            img[11, [9, 9 + win]] = 0
            ink = img != 0
            for mask, ref in (
                (ink, dilate_rect(erode_rect(img, k, 1, it), k, 1, it)),
                (ink.T, dilate_rect(erode_rect(img, 1, k, it), 1, k, it).T),
            ):
                got = paint(mask.shape, long_runs(mask, win))
                assert np.array_equal(got, ref != 0), (k, it)


def test_erode_dilate_equal_sliding_window_formula():
    """erode_rect/dilate_rect against the textbook formula: the min/max
    over a ``sliding_window_view`` of the image padded with 0, anchored
    at window // 2 (the even windows pin the anchor), along each axis,
    for 3-level and random images and windows longer than the axis."""
    from numpy.lib.stride_tricks import sliding_window_view

    def ref(img, window, axis, reduce):
        pads = [(0, 0), (0, 0)]
        pads[axis] = (window // 2, window - 1 - window // 2)
        view = sliding_window_view(np.pad(img, pads), window, axis=axis)
        return reduce(view, axis=-1)

    rng = np.random.Generator(np.random.PCG64(29))
    levels = np.array([0, 128, 255], dtype=np.uint8)
    for h, w in [(1, 1), (1, 13), (13, 1), (6, 4), (17, 23), (40, 9)]:
        for img in (rng.choice(levels, (h, w)), rng.integers(0, 256, (h, w), dtype=np.uint8)):
            for window in range(1, 10):
                for axis, (kw, kh) in ((1, (window, 1)), (0, (1, window))):
                    got = erode_rect(img, kw, kh)
                    assert np.array_equal(got, ref(img, window, axis, np.min)), (h, w, window, axis)
                    got = dilate_rect(img, kw, kh)
                    assert np.array_equal(got, ref(img, window, axis, np.max)), (h, w, window, axis)


def test_connected_components_matches_flood_fill():
    """The run-graph CCL against a per-pixel breadth-first flood fill,
    labels numbered in first-encounter row-major order."""
    from collections import deque

    def flood(mask):
        h, w = mask.shape
        labels = np.zeros((h, w), dtype=np.int32)
        n = 0
        for y0, x0 in zip(*np.nonzero(mask)):
            if labels[y0, x0]:
                continue
            n += 1
            labels[y0, x0] = n
            todo = deque([(y0, x0)])
            while todo:
                y, x = todo.popleft()
                for yy, xx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= yy < h and 0 <= xx < w and mask[yy, xx] and not labels[yy, xx]:
                        labels[yy, xx] = n
                        todo.append((yy, xx))
        return labels, n

    rng = np.random.Generator(np.random.PCG64(23))
    for h, w, p in [(1, 1, 1.0), (1, 40, 0.6), (40, 1, 0.6), (30, 30, 0.55),
                    (25, 60, 0.45), (60, 25, 0.7), (40, 40, 0.9)]:
        mask = rng.random((h, w)) < p
        labels, n = connected_components(mask.astype(np.uint8))
        ref, n_ref = flood(mask)
        assert n == n_ref and np.array_equal(labels, ref), (h, w, p)
