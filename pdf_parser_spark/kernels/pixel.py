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

Every primitive is whole-array numpy, with no Python loop over pixels,
runs or rows: a window-W min/max is ⌈log₂W⌉ shifted slice ops, and
labelling works on row runs (adjacency by one ``searchsorted``, merging
by min-label hooking plus pointer jumping, painting by one cumsum).
"""

from __future__ import annotations

import numpy as np


def otsu_threshold(img: np.ndarray) -> int:
    """Otsu's method on a 256-bin histogram: threshold t maximizing
    inter-class variance; pixels > t are foreground (255). Ties broken by
    the LOWEST t (our pinned spec; cv2's tie-break is unspecified)."""
    # paper (255) dominates a page: count it with one compare and bincount
    # only the rest (bincount widens every input byte to intp)
    flat = img.ravel()
    rest = flat[flat != 255]
    hist = np.bincount(rest, minlength=256).astype(np.float64)
    hist[255] = flat.size - rest.size
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


def _to_binary(mask: np.ndarray) -> np.ndarray:
    """bool mask -> fresh uint8 {0, 255} image in one pass."""
    return np.multiply(mask, np.uint8(255), dtype=np.uint8)


def threshold_binary_otsu(img: np.ndarray) -> np.ndarray:
    """cv2.threshold(img, 128, 255, BINARY|OTSU) equivalent: the 128 is
    ignored when OTSU is set (python/app.py:119,151)."""
    return _to_binary(img > otsu_threshold(img))


def _slide(a: np.ndarray, window: int, axis: int, op) -> np.ndarray:
    """Sliding ``op`` (an idempotent min/max/AND/OR) over ``window``
    pixels along ``axis``, with a constant-0 border and the cv2 anchor
    ``window // 2``.

    Log-step doubling on one zero-padded frame: after the step with span
    s, frame[i] holds op over [i, i+2s), so ⌊log₂W⌋ in-place slice ops
    reach the largest power of two p <= W, and one more op of two
    overlapping p-windows (idempotence makes the overlap harmless) covers
    W. Each op streams row-contiguous memory; nothing is reshaped or
    transposed."""
    if window <= 1:
        return a

    def cut(lo: int, hi: int) -> tuple[slice, ...]:
        return (slice(None),) * axis + (slice(lo, hi),)

    n = a.shape[axis]
    length = n + window - 1
    shape = list(a.shape)
    shape[axis] = length
    frame = np.zeros(shape, dtype=a.dtype)
    frame[cut(window // 2, window // 2 + n)] = a
    span = 1
    while 2 * span <= window:
        head = frame[cut(0, length - span)]
        op(head, frame[cut(span, length)], out=head)
        length -= span
        span *= 2
    if span < window:
        return op(frame[cut(0, n)], frame[cut(window - span, window - span + n)])
    return frame[cut(0, n)]


def erode_rect(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Erosion (min filter) with a kw x kh rectangular kernel, ``iterations``
    times. Equivalent single-pass window: n*(k-1)+1 per axis (valid because
    the constant-0 border is the global minimum)."""
    out = _slide(img, iterations * (kw - 1) + 1, 1, np.minimum)
    return _slide(out, iterations * (kh - 1) + 1, 0, np.minimum)


def dilate_rect(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    out = _slide(img, iterations * (kw - 1) + 1, 1, np.maximum)
    return _slide(out, iterations * (kh - 1) + 1, 0, np.maximum)


def open_rect_binary(img: np.ndarray, kw: int, kh: int, iterations: int = 1) -> np.ndarray:
    """Morphological opening (erode x n then dilate x n) for BINARY
    {0,255} images: identical output to
    ``dilate_rect(erode_rect(img, kw, kh, n), kw, kh, n)`` (pinned by
    test_pixel), but the whole chain runs in the bool domain — one
    uint8->bool conversion, AND/OR slides throughout, one conversion
    back. This is the ruling-line-mask hot path (erode x3 / dilate x3
    per axis per page, python/app.py:119-137)."""
    ww = iterations * (kw - 1) + 1
    wh = iterations * (kh - 1) + 1
    b = img != 0
    # erosion: constant-0 border (False), min == AND
    b = _slide(_slide(b, ww, 1, np.logical_and), wh, 0, np.logical_and)
    # dilation: constant-0 border, max == OR
    b = _slide(_slide(b, ww, 1, np.logical_or), wh, 0, np.logical_or)
    return _to_binary(b)


def _row_runs(fg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal horizontal runs of a bool image as global keys
    row*(w+1)+col: [start, end) per run, in row-major order. The +1 is a
    background separator column, so no run crosses a row boundary."""
    h, w = fg.shape
    flat = np.zeros(h * (w + 1) + 1, dtype=bool)  # [0] is a leading 0
    flat[1:].reshape(h, w + 1)[:, :w] = fg
    # key k is flat[k+1]; runs alternate start, end from the leading 0
    edges = np.flatnonzero(flat[1:] != flat[:-1])
    return edges[0::2], edges[1::2]


def connected_components(binary: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected component labeling of nonzero pixels (our spec's
    replacement for cv2.findContours on white regions, python/app.py:154).
    Returns (labels int32 array with 0 = background, n_labels), numbered
    1..n in first-encounter (row-major) order."""
    h, w = binary.shape
    starts, ends = _row_runs(binary != 0)
    n_runs = len(starts)
    if n_runs == 0:
        return np.zeros((h, w), dtype=np.int32), 0

    # run-adjacency edges, all at once: run i touches run j of the row
    # above iff their columns overlap. Shifting the keys one row down
    # (+ w+1) makes that key overlap, and because runs are sorted and
    # disjoint the partners of run i are the contiguous range [lo, hi).
    below = w + 1
    lo = np.searchsorted(ends + below, starts, side="right")
    hi = np.searchsorted(starts + below, ends, side="left")
    counts = hi - lo
    n_edges = int(counts.sum())
    parent = np.arange(n_runs)
    if n_edges:
        src = np.repeat(parent, counts)
        dst = np.repeat(lo - (np.cumsum(counts) - counts), counts) + np.arange(n_edges)
        # min-label hooking: each root joined by an edge to a smaller root
        # points at the smallest such root; pointer jumping then flattens
        # every tree to a star. parent[i] <= i throughout, so each final
        # root is its component's first run in row-major order.
        while True:
            ps, pd = parent[src], parent[dst]
            cross = ps != pd
            if not cross.any():
                break
            ps, pd = ps[cross], pd[cross]
            np.minimum.at(parent, np.maximum(ps, pd), np.minimum(ps, pd))
            while True:
                grand = parent[parent]
                if np.array_equal(grand, parent):
                    break
                parent = grand
    # roots in run order == first-encounter order
    rank = np.cumsum(parent == np.arange(n_runs), dtype=np.int32)
    run_labels = rank[parent]

    # paint: +label at each run start, -label at its end, one cumsum
    # (keys drop the separator column: row*(w+1)+col -> row*w+col)
    rows = starts // below
    delta = np.zeros(h * w + 1, dtype=np.int32)
    delta[starts - rows] = run_labels
    delta[ends - rows] -= run_labels
    labels = np.cumsum(delta[:-1], dtype=np.int32).reshape(h, w)
    return labels, int(rank[-1])


def component_bboxes(labels: np.ndarray, n: int) -> list[tuple[int, int, int, int]]:
    """Per-label bounding boxes as (x, y, w, h) — cv2.boundingRect shape
    (python/app.py:167,181) — indexed in label order (first-encounter
    row-major, our pinned contour-order spec). Labels with no pixel get
    (0, 0, 0, 0). Works on runs of equal label, not on every pixel."""
    w = labels.shape[1]
    flat = labels.ravel()
    if not flat.any():
        return []
    # a run starts where the label changes or a row begins
    new = np.empty(flat.size, dtype=bool)
    new[0] = True
    np.not_equal(flat[1:], flat[:-1], out=new[1:])
    new[::w] = True
    first = np.flatnonzero(new)
    last = np.append(first[1:], flat.size) - 1
    lab = flat[first]
    fg = lab != 0
    first, last, lab = first[fg], last[fg], lab[fg]
    ys = first // w
    big = np.iinfo(np.int64).max
    x0 = np.full(n + 1, big)
    y0 = np.full(n + 1, big)
    x1 = np.full(n + 1, -1)
    y1 = np.full(n + 1, -1)
    np.minimum.at(x0, lab, first - ys * w)
    np.minimum.at(y0, lab, ys)
    np.maximum.at(x1, lab, last - ys * w)
    np.maximum.at(y1, lab, ys)
    return [
        (int(x0[i]), int(y0[i]), int(x1[i] - x0[i] + 1), int(y1[i] - y0[i] + 1))
        if x1[i] >= 0
        else (0, 0, 0, 0)
        for i in range(1, n + 1)
    ]
