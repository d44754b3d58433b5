"""Pure-numpy page-preprocessing kernels.

These are the Spark-free analogues of what the reference delegates to
Tesseract's ``PSM_AUTO_OSD`` page-segmentation mode
(``reader2.cpp:24``): orientation/deskew plus zone detection. Per
BASELINE.json's north_star the preprocessing chain is grayscale →
Otsu binarization → deskew → connected-component + recursive XY-cut
layout segmentation. The OCR stage runs this chain only as opt-in layout
analysis (``ExtractionConfig.preprocess``): both backends recognize the
raw grayscale page. Everything here is vectorized numpy, testable
without Spark, and called only from inside Arrow-batched UDF workers.
"""

from __future__ import annotations

import numpy as np

INK_THRESHOLD_DEFAULT = 128

_SAMPLE_BLOCK_PX = 1 << 17


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """HxWx3 RGB → HxW luma (BT.601 weights); HxW passes through."""
    if img.ndim == 2:
        return img
    if img.ndim == 3 and img.shape[2] in (3, 4):
        rgb = img[..., :3].astype(np.float32)
        gray = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
        return np.clip(gray, 0, 255).astype(np.uint8)
    raise ValueError(f"unsupported image shape {img.shape}")


def _gray_histogram(gray: np.ndarray) -> np.ndarray:
    """256-bin float64 histogram of a uint8 page.

    ``np.bincount`` casts its input to int64, so it runs over flat
    blocks of at most ``_SAMPLE_BLOCK_PX`` pixels: the cast copy is
    1 MB at most, not 8 B per pixel of the whole page."""
    flat = gray.reshape(-1)
    hist = np.zeros(256, dtype=np.int64)
    for i in range(0, flat.size, _SAMPLE_BLOCK_PX):
        hist += np.bincount(flat[i : i + _SAMPLE_BLOCK_PX], minlength=256)
    return hist.astype(np.float64)


def _otsu_threshold_from_hist(hist: np.ndarray) -> int:
    total = hist.sum()
    if total == 0:
        return INK_THRESHOLD_DEFAULT
    omega = np.cumsum(hist) / total                      # class-0 probability
    mu = np.cumsum(hist * np.arange(256)) / total        # cumulative mean
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    return int(np.argmax(sigma_b))


def otsu_threshold(gray: np.ndarray) -> int:
    """Otsu's method: threshold maximizing between-class variance."""
    return _otsu_threshold_from_hist(_gray_histogram(gray))


def otsu_binarize_with_threshold(gray: np.ndarray) -> tuple[np.ndarray, int]:
    """(ink mask, threshold) in ONE histogram pass.

    The separate max()/min() uniformity probes this replaced cost two
    extra full-image scans; uniformity falls out of the histogram
    (exactly one nonzero bin). Callers that later need the threshold
    again (deskew re-binarize) use the returned value instead of
    re-histogramming."""
    if gray.size == 0:
        return np.zeros_like(gray, dtype=bool), INK_THRESHOLD_DEFAULT
    hist = _gray_histogram(gray)
    if np.count_nonzero(hist) <= 1:  # uniform page → no ink by convention
        return np.zeros_like(gray, dtype=bool), INK_THRESHOLD_DEFAULT
    t = _otsu_threshold_from_hist(hist)
    return gray <= t, t


def otsu_binarize(gray: np.ndarray) -> np.ndarray:
    """→ bool array, True = ink (dark side of the Otsu threshold).

    A uniform (blank) page binarizes to all-False ink.
    """
    return otsu_binarize_with_threshold(gray)[0]


def sample_ink(ink: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ys, xs) of the ink pixels in row-major order; past 8,192 of them,
    every ``n // 4096``-th (about 4,096 points).

    The shear search only needs the ARGMAX over ~12 candidates, not an
    exact profile variance — a deterministic stride subsample of the
    ink pixels preserves the profile shape while capping the bincount
    passes. Stride (never RNG) keeps the estimate bit-reproducible
    across runs and engines. ``np.nonzero`` runs over row blocks of at
    most ``_SAMPLE_BLOCK_PX`` pixels, carrying the running ink count
    between blocks, so it never holds 16 B per ink pixel of the whole
    page; the points equal a whole-page ``np.nonzero`` strided the same
    way."""
    h, w = ink.shape
    n = int(np.count_nonzero(ink))
    stride = n // 4096 if n > 8192 else 1
    rows = max(1, _SAMPLE_BLOCK_PX // max(w, 1))
    ys, xs, seen = [], [], 0
    for r0 in range(0, h if n else 0, rows):
        by, bx = np.nonzero(ink[r0 : r0 + rows])
        first = -seen % stride  # block index of the next kept point
        ys.append(by[first::stride] + r0)
        xs.append(bx[first::stride].copy())  # a view would pin the block
        seen += by.size
    if not ys:
        return np.zeros(0, np.intp), np.zeros(0, np.intp)
    return np.concatenate(ys), np.concatenate(xs)


def estimate_shear(ink: np.ndarray, max_shear: float = 0.05, steps: int = 7) -> float:
    """Estimate vertical shear (small-angle skew model, dy = shear * x).

    Projection-profile method: the shear that, once removed, maximizes
    the variance of row-ink counts (text lines align → peaky profile).
    Coarse-to-fine search (two levels) — ~12 profile evaluations instead
    of a dense sweep; this runs on every inked page of the opt-in
    layout analysis.
    """
    h = ink.shape[0]
    ys, xs = sample_ink(ink)
    if ys.size == 0:
        return 0.0
    ys = ys.astype(np.int32)  # keep the (K, P) candidate matrix int32

    def scores(cands: np.ndarray) -> np.ndarray:
        """Profile variance per shear candidate, all candidates in ONE
        bincount pass: candidate k's shifted rows are offset by k*h so a
        single length-K*h bincount yields every profile at once (12
        separate bincount calls measured ~2.4x slower than this batch)."""
        k = len(cands)
        yy = np.clip(
            ys[None, :] - np.round(cands[:, None] * xs[None, :]).astype(np.int32),
            0,
            h - 1,
        )
        yy += (np.arange(k, dtype=np.int32) * h)[:, None]
        prof = np.bincount(yy.reshape(-1), minlength=k * h).reshape(k, h)
        return prof.astype(np.float64).var(axis=1)

    # candidate order = tie-break order (argmax takes the first max):
    # 0.0 first, then the sweep — identical to the sequential search this
    # replaced; the sweep's own 0.0 midpoint is dropped as a duplicate
    # (it could never win a tie against position 0)
    sweep = np.linspace(-max_shear, max_shear, steps)
    coarse = np.concatenate(([0.0], sweep[sweep != 0.0]))
    sc = scores(coarse)
    # ties break toward the earliest candidate — 0.0 first, then the
    # sweep in order, matching the sequential argmax this replaced
    best_i = int(np.argmax(sc))
    best_shear, best_score = float(coarse[best_i]), float(sc[best_i])
    step = 2 * max_shear / (steps - 1)
    fine = np.linspace(best_shear - step / 1.5, best_shear + step / 1.5, 5)
    fsc = scores(fine)
    fi = int(np.argmax(fsc))
    if float(fsc[fi]) > best_score:
        best_shear = float(fine[fi])
    return best_shear


def deskew(gray: np.ndarray, shear: float) -> np.ndarray:
    """Remove vertical shear from a grayscale page (fill = white).

    Vectorized gather: each column x is shifted by -round(shear*x); a
    single fancy-index builds the output (no per-column Python loop —
    this runs per page in the OCR hot path)."""
    if abs(shear) < 1e-9:
        return gray
    h, w = gray.shape
    dy = np.round(shear * np.arange(w)).astype(np.int64)  # per-column shift
    # dy is a step function of x: columns group into contiguous runs of
    # constant shift (≈ |shear|*w + 1 runs, ~15 for a typical page). Each
    # run is two contiguous slice copies — this replaced an (h,w) fancy
    # gather with full-image index/mask temporaries (measured ~8x faster,
    # output identical).
    out = np.empty_like(gray)
    bounds = np.flatnonzero(np.diff(dy)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [w]))
    for x0, x1 in zip(starts, ends):
        d = int(dy[x0])
        if d == 0:
            out[:, x0:x1] = gray[:, x0:x1]
        elif 0 < d < h:
            out[: h - d, x0:x1] = gray[d:, x0:x1]
            out[h - d :, x0:x1] = 255
        elif -h < d < 0:
            out[-d:, x0:x1] = gray[: h + d, x0:x1]
            out[:-d, x0:x1] = 255
        else:  # |d| >= h: every source row out of range
            out[:, x0:x1] = 255
    return out


def cc_segment(ink: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Connected components (4-connectivity) via run-based union-find.

    Returns bounding boxes ``(y0, y1, x0, x1)`` (inclusive), sorted by
    (y0, x0). Linear in the number of ink runs — no scipy dependency.
    """
    h, w = ink.shape
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    # runs[y] = list of (x_start, x_end_inclusive, label)
    prev_runs: list[tuple[int, int, int]] = []
    boxes: dict[int, list[int]] = {}
    all_runs: list[tuple[int, int, int, int]] = []  # (y, xs, xe, label)
    for y in range(h):
        row = ink[y]
        if not row.any():
            prev_runs = []
            continue
        padded = np.diff(np.concatenate(([0], row.view(np.int8), [0])))
        starts = np.nonzero(padded == 1)[0]
        ends = np.nonzero(padded == -1)[0] - 1
        cur_runs: list[tuple[int, int, int]] = []
        pi = 0
        for xs, xe in zip(starts, ends):
            label = -1
            # link to overlapping runs in the previous row
            while pi < len(prev_runs) and prev_runs[pi][1] < xs:
                pi += 1
            pj = pi
            while pj < len(prev_runs) and prev_runs[pj][0] <= xe:
                if label == -1:
                    label = prev_runs[pj][2]
                else:
                    union(label, prev_runs[pj][2])
                pj += 1
            if label == -1:
                label = len(parent)
                parent.append(label)
            cur_runs.append((int(xs), int(xe), label))
            all_runs.append((y, int(xs), int(xe), label))
        prev_runs = cur_runs

    for y, xs, xe, label in all_runs:
        r = find(label)
        if r not in boxes:
            boxes[r] = [y, y, xs, xe]
        else:
            b = boxes[r]
            b[0] = min(b[0], y)
            b[1] = max(b[1], y)
            b[2] = min(b[2], xs)
            b[3] = max(b[3], xe)
    return sorted((b[0], b[1], b[2], b[3]) for b in boxes.values())


def xy_cut(
    ink: np.ndarray, min_gap: int = 6, min_size: int = 4, _depth: int = 0
) -> list[tuple[int, int, int, int]]:
    """Recursive XY-cut layout segmentation.

    Alternating projection-profile splits: find the widest all-white gap
    along Y then X; recurse until no gap ≥ ``min_gap`` remains. Returns
    zone boxes ``(y0, y1, x0, x1)`` (inclusive) in reading order.
    """
    h, w = ink.shape
    if h == 0 or w == 0 or not ink.any():
        return []
    rows = ink.any(axis=1)
    cols = ink.any(axis=0)
    y0, y1 = int(np.argmax(rows)), int(h - 1 - np.argmax(rows[::-1]))
    x0, x1 = int(np.argmax(cols)), int(w - 1 - np.argmax(cols[::-1]))
    sub = ink[y0 : y1 + 1, x0 : x1 + 1]
    if _depth > 12 or min(sub.shape) < min_size:
        return [(y0, y1, x0, x1)]

    def best_gap(profile: np.ndarray) -> tuple[int, int]:
        """(gap_start, gap_len) of the widest interior False-run."""
        best = (0, 0)
        run_start, run_len = -1, 0
        for i, v in enumerate(profile):
            if not v:
                if run_start < 0:
                    run_start = i
                run_len += 1
            else:
                if run_start > 0 and run_len > best[1]:
                    best = (run_start, run_len)
                run_start, run_len = -1, 0
        return best

    gy = best_gap(sub.any(axis=1))
    gx = best_gap(sub.any(axis=0))
    if max(gy[1], gx[1]) < min_gap:
        return [(y0, y1, x0, x1)]
    out: list[tuple[int, int, int, int]] = []
    if gy[1] >= gx[1]:  # horizontal cut
        top = ink[y0 : y0 + gy[0], x0 : x1 + 1]
        bot = ink[y0 + gy[0] + gy[1] : y1 + 1, x0 : x1 + 1]
        for base_y, part in ((y0, top), (y0 + gy[0] + gy[1], bot)):
            for zy0, zy1, zx0, zx1 in xy_cut(part, min_gap, min_size, _depth + 1):
                out.append((base_y + zy0, base_y + zy1, x0 + zx0, x0 + zx1))
    else:  # vertical cut
        left = ink[y0 : y1 + 1, x0 : x0 + gx[0]]
        right = ink[y0 : y1 + 1, x0 + gx[0] + gx[1] : x1 + 1]
        for base_x, part in ((x0, left), (x0 + gx[0] + gx[1], right)):
            for zy0, zy1, zx0, zx1 in xy_cut(part, min_gap, min_size, _depth + 1):
                out.append((y0 + zy0, y0 + zy1, base_x + zx0, base_x + zx1))
    return out
