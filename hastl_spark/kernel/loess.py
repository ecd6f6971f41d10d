"""Batched LOESS smoother with missing-value support — vectorized NumPy.

Function-for-function transliteration of the reference's Futhark LOESS
(reference: hastl/src/futhark/loess.fut). The reference ships three GPU
scheduling variants (``loess_outer`` loess.fut:64-178, ``loess_flat``
loess.fut:236-351, ``loess_intragroup_simple`` loess.fut:411-501) that are
mathematically identical; here they collapse to ONE vectorized kernel
(SURVEY.md §2.5). All arithmetic is float64 (loess.fut:5 ``module T = f64``).

Batch convention: every public function takes a leading batch axis ``B``
(one row per series). Inside the Spark engine the batch is whatever one
``applyInPandas`` group holds; in the oracle tests it is the reference's
``[m]`` axis (or ``[m*n_p]`` for cycle-subseries).
"""

from __future__ import annotations

import numpy as np

EPS = np.finfo(np.float64).eps  # T.epsilon, loess.fut:115-119
_I64_MAX = np.iinfo(np.int64).max


def filter_pad_nans(Y: np.ndarray):
    """filterPadWithKeys with a NaN predicate (utils.fut:39-49).

    Returns ``(vals, nn_idx, n_nn)`` where per row: ``vals`` holds the
    non-NaN values compacted left and zero-padded, ``nn_idx`` their original
    indices compacted left and ``-1``-padded, ``n_nn`` the count.
    """
    Y = np.asarray(Y)
    if Y.ndim == 1:
        Y = Y[None, :]
    B, n = Y.shape
    mask = ~np.isnan(Y)
    n_nn = mask.sum(axis=1).astype(np.int64)
    # stable: non-NaN original indices first, in order (scan+scatter in the ref)
    order = np.argsort(~mask, axis=1, kind="stable").astype(np.int64)
    j = np.arange(n, dtype=np.int64)[None, :]
    keep = j < n_nn[:, None]
    nn_idx = np.where(keep, order, -1)
    gathered = np.take_along_axis(Y, order, axis=1)
    vals = np.where(keep, gathered, 0.0).astype(np.float64)
    return vals, nn_idx, n_nn


def pad_gather(vs: np.ndarray, idxs: np.ndarray, fill) -> np.ndarray:
    """pad_gather (utils.fut:31-33): gather ``vs[idxs]`` with ``-1`` -> fill."""
    safe = np.maximum(idxs, 0)
    out = np.take_along_axis(np.asarray(vs, dtype=np.float64), safe, axis=-1)
    return np.where(idxs >= 0, out, fill)


def l_indexes(nn_idx: np.ndarray, m_vals: np.ndarray, q: int, n_nn: np.ndarray) -> np.ndarray:
    """q-nearest-neighbor leftmost window index (loess.fut:632-665).

    ``nn_idx``: [B, N] int64 — the (possibly shifted) sorted non-NaN index
    array exactly as the reference passes it (pads included).
    ``m_vals``: [n_m] int64 — ``m_fun(i)`` pre-evaluated (any +1 shift already
    applied by the caller, mirroring the ``m_fun >-> (+1)`` compositions).
    Returns [B, n_m] int64.
    """
    nn_idx = np.asarray(nn_idx, dtype=np.int64)
    B, N = nn_idx.shape
    n_m = len(m_vals)
    x = np.broadcast_to(np.asarray(m_vals, dtype=np.int64)[None, :], (B, n_m))

    # binary search, exact transliteration (loess.fut:641-648): result = low
    low = np.zeros((B, n_m), dtype=np.int64)
    high = np.full((B, n_m), N - 1, dtype=np.int64)
    brow = np.arange(B, dtype=np.int64)[:, None]
    while True:
        act = low <= high
        if not act.any():
            break
        mid = (low + high) // 2
        mid_id = nn_idx[brow, np.where(act, mid, 0)]
        mid_idx = np.where(mid_id < 0, _I64_MAX, mid_id)
        ge = mid_idx >= x
        high = np.where(act & ge, mid - 1, high)
        low = np.where(act & ~ge, mid + 1, low)
    init = low

    # greedy two-sided expansion to q neighbors (loess.fut:649-662)
    n_nn_b = np.broadcast_to(np.asarray(n_nn, dtype=np.int64)[:, None], (B, n_m))
    l = init.copy()
    r = init.copy()
    span = np.ones((B, n_m), dtype=np.int64)
    for _ in range(max(q - 1, 0)):
        act = span < q
        if not act.any():
            break
        l_cand = np.maximum(l - 1, 0)
        r_cand = np.minimum(r + 1, n_nn_b - 1)
        # reads stay in [0, n_nn-1] like the reference; clamp for numpy safety
        l_dist = np.abs(nn_idx[brow, np.maximum(l_cand, 0)] - x)
        r_dist = np.abs(nn_idx[brow, np.maximum(r_cand, 0)] - x)
        leftmost = l_cand == l
        go_left = (~leftmost) & ((l_dist < r_dist) | (r_cand == r))
        go_right = (~leftmost) & ~go_left
        l = np.where(act & go_left, l_cand, l)
        r = np.where(act & go_right, r_cand, r)
        span = np.where(act, np.where(leftmost, q, span + 1), span)
    return np.maximum(np.minimum(n_nn_b - q, l), 0)  # loess.fut:663


def find_lambda(y_idx: np.ndarray, l_idx: np.ndarray, m_vals: np.ndarray,
                q: int, n_nn: np.ndarray) -> np.ndarray:
    """Bandwidth lambda: distance to the q-th neighbor (loess.fut:670-683)."""
    y_idx = np.asarray(y_idx, dtype=np.int64)
    B, n_m = l_idx.shape
    brow = np.arange(B, dtype=np.int64)[:, None]
    mv = np.asarray(m_vals, dtype=np.int64)[None, :]
    n_nn_b = np.asarray(n_nn, dtype=np.int64)[:, None]
    qp = np.minimum(q, n_nn_b)
    rr = l_idx + qp - 1
    md = np.maximum(
        np.abs(y_idx[brow, l_idx] - mv),
        np.abs(y_idx[brow, np.maximum(rr, 0)] - mv),
    ).astype(np.float64)
    return md + np.maximum((float(q) - n_nn_b.astype(np.float64)) / 2.0, 0.0)


def loess_params(q: int, m_vals: np.ndarray, y_idx: np.ndarray, n_nn: np.ndarray):
    """(l_idx, lambda) for the dense-series smoothers (loess.fut:689-700).

    Note the +1 shift: the neighbor search runs on ``y_idx+1`` with
    ``m_fun(i)+1``; lambda runs unshifted (loess.fut:695-699).
    """
    y_idx = np.asarray(y_idx, dtype=np.int64)
    N = y_idx.shape[1]
    q3 = min(q, N)
    m_vals = np.asarray(m_vals, dtype=np.int64)
    l_idx = l_indexes(y_idx + 1, m_vals + 1, q3, n_nn)
    lam = find_lambda(y_idx, l_idx, m_vals, q, n_nn)
    return l_idx, lam


def loess_params_css(q: int, m_vals: np.ndarray, y_idx: np.ndarray, n_nn: np.ndarray):
    """(l_idx, lambda) for cycle-subseries smoothing (loess.fut:703-714).

    Unlike :func:`loess_params`, ``m_fun`` is NOT shifted and lambda uses the
    shifted ``y_idx+1`` (loess.fut:709-713).
    """
    y_idx = np.asarray(y_idx, dtype=np.int64)
    N = y_idx.shape[1]
    q3 = min(q, N)
    m_vals = np.asarray(m_vals, dtype=np.int64)
    y_idx_p1 = y_idx + 1
    l_idx = l_indexes(y_idx_p1, m_vals, q3, n_nn)
    lam = find_lambda(y_idx_p1, l_idx, m_vals, q, n_nn)
    return l_idx, lam


def loess(xx: np.ndarray, yy: np.ndarray, ww: np.ndarray, q: int,
          m_vals: np.ndarray, l_idx: np.ndarray, lam: np.ndarray,
          n_nn: np.ndarray, degree: int, max_cells: int = 1 << 16):
    """Tri-cube weighted local polynomial fit + slope (loess.fut:64-178).

    ``xx`` [B,N] int64 (pads as passed by caller, -1 for compacted series),
    ``yy``/``ww`` [B,N] float64 zero-padded, ``m_vals`` [n_m] the eval grid
    ``m_fun(i)`` WITH any caller-side shift applied (e.g. ``t_m_fun >-> (+1)``,
    stl.fut:240,295). Returns (fit, slope) each [B, n_m] float64.

    The window slice adds +1 to xx and masks ``j >= n_nn`` to zero
    (loess.fut:75-81 ``q_slice``). Eval points are processed in blocks of
    at most ``max_cells`` window cells — exact, since every eval point is
    independent. The block is sized to the cache, not to memory: each
    ``[B, points, q]`` float64 temporary is 512 KiB at 2^16 cells. On a
    4-vCPU Xeon (2 MiB L2 per core), against 2^25-cell blocks, with
    bit-equal output: a one-week series ran ~1.8x, a one-day chunk with
    its halos ~1.9x and a 64-series one-day batch ~2.1x faster, and a
    one-day single series ~1.2x. 2^17 and 2^18 were slower than 2^16 on
    each of these; 2^15 was no faster except on the one-day series.
    """
    xx = np.asarray(xx, dtype=np.int64)
    yy = np.asarray(yy, dtype=np.float64)
    ww = np.asarray(ww, dtype=np.float64)
    B, N = xx.shape
    m_vals = np.asarray(m_vals, dtype=np.int64)
    n_m = len(m_vals)
    n_nn = np.asarray(n_nn, dtype=np.int64)

    fit = np.empty((B, n_m), dtype=np.float64)
    slope = np.empty((B, n_m), dtype=np.float64)

    step = max(1, min(n_m, int(max_cells // max(B * q, 1))))
    brow = np.arange(B, dtype=np.int64)[:, None, None]
    jj = np.arange(q, dtype=np.int64)[None, None, :]
    pad = jj >= n_nn[:, None, None]  # q_slice: j >= n_nn -> zero (loess.fut:77)

    for s in range(0, n_m, step):
        e = min(s + step, n_m)
        li = l_idx[:, s:e, None]  # [B, c, 1]
        cols = np.minimum(li + jj, N - 1)
        xx_s = np.where(pad, 0, xx[brow, cols] + 1)  # add v=1, zero-pad
        ww_s = np.where(pad, 0.0, ww[brow, cols])
        yy_s = np.where(pad, 0.0, yy[brow, cols])

        x = (xx_s - m_vals[None, s:e, None]).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            tmp1 = np.abs(x) / lam[:, s:e, None]
        tmp2 = 1.0 - tmp1 * tmp1 * tmp1  # no clamp, as in loess.fut:98
        tmp3 = tmp2 * tmp2 * tmp2
        w = tmp3 * ww_s
        xw = x * w
        x2w = x * xw

        a = w.sum(axis=2) + EPS
        b = xw.sum(axis=2) + EPS
        c = x2w.sum(axis=2) + EPS

        if degree == 0:
            a0 = 1.0 / a
            fit[:, s:e] = ((w * a0[:, :, None]) * yy_s).sum(axis=2)
            slope[:, s:e] = 0.0
        elif degree == 1:
            det1 = 1.0 / (a * c - b * b)
            a11 = (c * det1)[:, :, None]
            b11 = (-b * det1)[:, :, None]
            c11 = (a * det1)[:, :, None]
            fit[:, s:e] = ((w * a11 + xw * b11) * yy_s).sum(axis=2)
            slope[:, s:e] = ((w * b11 + xw * c11) * yy_s).sum(axis=2)
        else:  # degree 2 (loess.fut:131-143)
            x3w = x * x2w
            x4w = x * x3w
            d = x3w.sum(axis=2) + EPS
            e_ = x4w.sum(axis=2) + EPS
            a12 = e_ * c - d * d
            b12 = c * d - e_ * b
            c12 = b * d - c * c
            a2 = c * d - e_ * b
            b2 = e_ * a - c * c
            c2 = b * c - d * a
            det = 1.0 / (a * a12 + b * b12 + c * c12)
            a12 = (a12 * det)[:, :, None]
            b12 = (b12 * det)[:, :, None]
            c12 = (c12 * det)[:, :, None]
            a2 = (a2 * det)[:, :, None]
            b2 = (b2 * det)[:, :, None]
            c2 = (c2 * det)[:, :, None]
            fit[:, s:e] = ((w * a12 + xw * b12 + x2w * c12) * yy_s).sum(axis=2)
            slope[:, s:e] = ((w * a2 + xw * b2 + x2w * c2) * yy_s).sum(axis=2)
    return fit, slope


def _interp_core(a, j, m_fun, fits, slopes):
    """interpolate_proc (loess.fut:720-734), vectorized over eval points."""
    m_j = m_fun(j)
    h = (m_fun(j + 1) - m_j).astype(np.float64)
    u = (a - m_j).astype(np.float64) / h
    u2 = u * u
    u3 = u2 * u
    brow = np.arange(fits.shape[0], dtype=np.int64)[:, None]
    f0 = fits[brow, j]
    f1 = fits[brow, j + 1]
    s0 = slopes[brow, j]
    s1 = slopes[brow, j + 1]
    return ((2 * u3 - 3 * u2 + 1) * f0 + (3 * u2 - 2 * u3) * f1
            + (u3 - 2 * u2 + u) * s0 * h + (u3 - u2) * s1 * h)


def interpolate(m_fun, fits: np.ndarray, slopes: np.ndarray, N: int, jump: int) -> np.ndarray:
    """Cubic Hermite reconstruction at all N points (loess.fut:736-745)."""
    n_m = fits.shape[1]
    a = np.arange(N, dtype=np.int64)[None, :]
    m_v = a // jump
    j = np.where(m_v == n_m - 1, m_v - 1, m_v)
    return _interp_core(a, j, m_fun, fits, slopes)


def interpolate_css(m_fun, fits: np.ndarray, slopes: np.ndarray, N: int, jump: int) -> np.ndarray:
    """Endpoint-anchored Hermite for cycle-subseries (loess.fut:747-761)."""
    n_m = fits.shape[1]
    a = np.arange(N, dtype=np.int64)[None, :]
    m_v = np.maximum(a - 1, 0) // jump + 1
    j = np.where(a == 0, 0, np.where(m_v == n_m - 1, m_v - 1, m_v))
    j = np.clip(j, 0, n_m - 2)
    out = _interp_core(a, j, m_fun, fits, slopes)
    out[:, 0] = fits[:, 0]
    out[:, N - 1] = fits[:, n_m - 1]
    return out


def loess_fit(Y: np.ndarray, q: int, degree: int = 1, jump: int | None = None) -> np.ndarray:
    """Standalone batched LOESS — the reference's loess entry point.

    Mirrors hastl/loess.py:53-90 (param canonicalization) driving
    loess.fut:768-811 (NaN compaction, params, uniform weights, smoothing,
    Hermite when jump>1). float64 end-to-end.
    """
    from .params import degcheck, jump_check, wincheck

    Y = np.asarray(Y, dtype=np.float64)
    one_d = Y.ndim == 1
    if one_d:
        Y = Y[None, :]
    if Y.ndim != 2:
        raise TypeError("Y should be a 2d array")
    B, n = Y.shape

    q = wincheck(q)
    degree = degcheck(degree)
    if jump is None:
        jump = int(np.ceil(min(q, n) / 10))  # hastl/loess.py:68-70
    jump = jump_check(jump, n)

    n_m = n if jump == 1 else n // jump + 1
    m_vals = np.minimum(np.arange(n_m, dtype=np.int64) * jump, n - 1)  # loess.fut:778

    nn_y, nn_idx, n_nn = filter_pad_nans(Y)
    if (n_nn == 0).any():
        raise ValueError("LOESS input contains an all-NaN series")
    l_idx, lam = loess_params(q, m_vals, nn_idx, n_nn)
    ww = np.ones((B, n), dtype=np.float64)  # loess.fut:790
    fits, slopes = loess(nn_idx, nn_y, ww, q, m_vals, l_idx, lam, n_nn, degree)
    if jump > 1:
        m_fun = lambda x: np.minimum(np.asarray(x, dtype=np.int64) * jump, n - 1)
        out = interpolate(m_fun, fits, slopes, n, jump)
    else:
        out = fits
    return out[0] if one_d else out
