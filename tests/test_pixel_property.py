"""Property tests: the pixel primitives against definitional references
written here (naive window min/max, BFS flood fill, per-label min/max,
the plain Otsu formula) on random and degenerate images."""

from collections import deque

import numpy as np
from hypothesis import given, settings, strategies as st
from hypothesis.extra.numpy import arrays
from numpy.lib.stride_tricks import sliding_window_view

from pdf_parser_spark.kernels.pixel import (
    component_bboxes,
    connected_components,
    dilate_rect,
    erode_rect,
    open_rect_binary,
    otsu_threshold,
    threshold_binary_otsu,
)

shapes = st.tuples(st.integers(1, 24), st.integers(1, 24))


@st.composite
def binary_images(draw):
    """uint8 {0, 255} images: random, or one of the degenerate patterns."""
    h, w = draw(shapes)
    kind = draw(st.sampled_from(["random", "random", "zeros", "ones", "checker"]))
    if kind == "random":
        img = draw(arrays(np.bool_, (h, w)))
    elif kind == "zeros":
        img = np.zeros((h, w), dtype=bool)
    elif kind == "ones":
        img = np.ones((h, w), dtype=bool)
    else:
        img = (np.add.outer(np.arange(h), np.arange(w)) % 2).astype(bool)
    return img.astype(np.uint8) * 255


kernels = st.tuples(st.integers(1, 30), st.integers(1, 30), st.integers(1, 3))


def ref_slide(img, window, axis, reduce):
    """Window reduce with a constant-0 border and anchor window // 2."""
    if window <= 1:
        return img
    pads = [(0, 0), (0, 0)]
    pads[axis] = (window // 2, window - 1 - window // 2)
    padded = np.pad(img, pads, constant_values=0)
    return reduce(sliding_window_view(padded, window, axis=axis), axis=-1)


def ref_erode(img, kw, kh, it):
    out = ref_slide(img, it * (kw - 1) + 1, 1, np.min)
    return ref_slide(out, it * (kh - 1) + 1, 0, np.min)


def ref_dilate(img, kw, kh, it):
    out = ref_slide(img, it * (kw - 1) + 1, 1, np.max)
    return ref_slide(out, it * (kh - 1) + 1, 0, np.max)


def ref_components(binary):
    """BFS flood fill, numbering components in row-major first encounter."""
    h, w = binary.shape
    labels = np.zeros((h, w), dtype=np.int32)
    n = 0
    for y in range(h):
        for x in range(w):
            if binary[y, x] and not labels[y, x]:
                n += 1
                labels[y, x] = n
                todo = deque([(y, x)])
                while todo:
                    cy, cx = todo.popleft()
                    for ny, nx in ((cy - 1, cx), (cy + 1, cx), (cy, cx - 1), (cy, cx + 1)):
                        if 0 <= ny < h and 0 <= nx < w and binary[ny, nx] and not labels[ny, nx]:
                            labels[ny, nx] = n
                            todo.append((ny, nx))
    return labels, n


def ref_bboxes(labels, n):
    out = []
    for i in range(1, n + 1):
        ys, xs = np.nonzero(labels == i)
        out.append((int(xs.min()), int(ys.min()), int(np.ptp(xs)) + 1, int(np.ptp(ys)) + 1))
    return out


def ref_otsu(img):
    hist = np.bincount(img.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256))
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (mu[-1] * omega - mu) ** 2 / (omega * (total - omega))
    sigma_b = np.nan_to_num(sigma_b, nan=-1.0, posinf=-1.0, neginf=-1.0)
    return int(np.argmax(sigma_b))


def assert_same(got, want):
    assert got.dtype == want.dtype and got.shape == want.shape
    assert np.array_equal(got, want)


@settings(max_examples=300, deadline=None)
@given(binary_images(), kernels)
def test_morphology_matches_naive_window(img, kernel):
    kw, kh, it = kernel
    assert_same(erode_rect(img, kw, kh, it), ref_erode(img, kw, kh, it))
    assert_same(dilate_rect(img, kw, kh, it), ref_dilate(img, kw, kh, it))
    assert_same(open_rect_binary(img, kw, kh, it), ref_dilate(ref_erode(img, kw, kh, it), kw, kh, it))


@settings(max_examples=100, deadline=None)
@given(arrays(np.uint8, shapes), kernels)
def test_grayscale_morphology_matches_naive_window(img, kernel):
    assert_same(erode_rect(img, *kernel), ref_erode(img, *kernel))
    assert_same(dilate_rect(img, *kernel), ref_dilate(img, *kernel))


@settings(max_examples=300, deadline=None)
@given(binary_images())
def test_components_and_bboxes_match_flood_fill(img):
    labels, n = connected_components(img)
    want_labels, want_n = ref_components(img)
    assert n == want_n
    assert_same(labels, want_labels)
    assert component_bboxes(labels, n) == ref_bboxes(want_labels, want_n)


def test_components_serpentine():
    """One snake through every other row: every hooking round and pointer
    jump is exercised, and the single label must be 1 everywhere."""
    img = np.zeros((61, 40), dtype=np.uint8)
    img[::2] = 255
    img[1::4, -1] = 255
    img[3::4, 0] = 255
    labels, n = connected_components(img)
    want_labels, want_n = ref_components(img)
    assert n == want_n == 1
    assert_same(labels, want_labels)


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(
        arrays(np.uint8, shapes),
        binary_images(),
        arrays(np.uint8, shapes, elements=st.sampled_from([0, 7, 128, 254, 255])),
    )
)
def test_otsu_matches_formula(img):
    t = ref_otsu(img)
    assert otsu_threshold(img) == t
    assert_same(threshold_binary_otsu(img), np.where(img > t, np.uint8(255), np.uint8(0)))
