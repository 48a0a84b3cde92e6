"""Pure-numpy raster kernels for the per-image ``applyInPandas`` layer.

These are the operators with no relational analog (SURVEY §2.8 M1-M8). The
reference uses scipy/skimage/astropy; this container has neither, so each
kernel is an independent pure-numpy implementation of the standard published
algorithm (documented per function). They are deliberately Spark-free so
they can be unit-tested off-cluster and reused inside Arrow-batched UDFs.

All functions take/return dense 2-D numpy arrays; the raster module
(operators/raster.py) converts between long-form pixel rows and rasters.
"""

from __future__ import annotations

import numpy as np


# ---------------------------------------------------------------------------
# M1 — connected-component labeling (8-connectivity)
# ---------------------------------------------------------------------------

def label_components(mask: np.ndarray, connectivity: int = 2) -> np.ndarray:
    """8-connected (connectivity=2) or 4-connected (1) labeling.

    Sparse union-find with vectorized pointer jumping: labels only the True
    pixels (outlier masks are a few % of the image), so cost scales with the
    masked-pixel count, not the image area. Labels are 1..n_components in
    first-pixel (row-major) order, 0 = background — matching the ordering
    convention of scipy.ndimage.label so downstream golden tables line up.
    """
    ys, xs = np.nonzero(mask)  # row-major order (C-order guarantee)
    n = ys.size
    out = np.zeros(mask.shape, dtype=np.int32)
    if n == 0:
        return out
    h, w = mask.shape
    # dense position index: idx[y, x] = rank of (y, x) among True pixels
    # (-1 for background) — neighbor pairs then come from 2-D slice
    # comparisons, no sort/searchsorted
    idx = np.full(mask.shape, -1, dtype=np.int64)
    idx[ys, xs] = np.arange(n)

    if connectivity == 2:
        offsets = ((-1, -1), (-1, 0), (-1, 1), (0, -1))
    else:
        offsets = ((-1, 0), (0, -1))

    ea_parts, eb_parts = [], []
    for dy, dx in offsets:
        ys0, ys1 = max(0, -dy), h - max(0, dy)
        xs0, xs1 = max(0, -dx), w - max(0, dx)
        a = idx[ys0:ys1, xs0:xs1]
        b = idx[ys0 + dy:ys1 + dy, xs0 + dx:xs1 + dx]
        ok = (a >= 0) & (b >= 0)
        if ok.any():
            ea_parts.append(a[ok])
            eb_parts.append(b[ok])

    root = np.arange(n, dtype=np.int64)
    if ea_parts:
        ea = np.concatenate(ea_parts)
        eb = np.concatenate(eb_parts)
        # Shiloach-Vishkin-style fully vectorized rounds (no per-edge
        # Python loop — a 50%-fill 2880^2 mask has ~8M edges): hook the
        # LARGER label at the smaller via scatter-min, pointer-double to
        # full idempotence (so every node, root or not, points straight at
        # its current root), then CONTRACT the edge set to the label graph
        # (edges whose endpoints already share a label are dropped). The
        # edge set shrinks geometrically: total work is ~2 passes over the
        # original edges plus O(log n) small rounds. Pointers only ever
        # decrease, so the forest is acyclic and the fixpoint label is the
        # component's minimum pixel rank.
        first = True
        while True:
            if first:
                # round 0: root is the identity, so root[ea] == ea and every
                # edge joins distinct pixels — skip the (large) gather pass
                u, v = ea, eb
                first = False
            else:
                u = root[ea]
                v = root[eb]
                keep = u != v
                if not keep.any():
                    break
                u = u[keep]
                v = v[keep]
            np.minimum.at(root, np.maximum(u, v), np.minimum(u, v))
            while True:
                nxt = root[root]
                if np.array_equal(nxt, root):
                    break
                root = nxt
            ea, eb = u, v

    # relabel roots to 1..k in row-major first-appearance order: roots are
    # component-minimum ranks, so a cumulative count over `root == self`
    # assigns labels in first-pixel order with no sort
    newlab = np.cumsum(root == np.arange(n, dtype=np.int64))
    out[ys, xs] = newlab[root].astype(np.int32)
    return out


# ---------------------------------------------------------------------------
# M2/M4 — binary morphology via shifted boolean algebra
# ---------------------------------------------------------------------------

def _shift2d(a: np.ndarray, dy: int, dx: int, fill: bool = False) -> np.ndarray:
    out = np.full_like(a, fill)
    h, w = a.shape
    ys0, ys1 = max(dy, 0), min(h + dy, h)
    xs0, xs1 = max(dx, 0), min(w + dx, w)
    out[ys0:ys1, xs0:xs1] = a[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx]
    return out


def binary_dilation(mask: np.ndarray, radius: int = 1) -> np.ndarray:
    """Square-structuring-element dilation (side 2*radius+1)."""
    out = mask.copy()
    for _ in range(radius):
        nxt = out.copy()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dy or dx:
                    nxt |= _shift2d(out, dy, dx)
        out = nxt
    return out


def binary_erosion(mask: np.ndarray, radius: int = 1) -> np.ndarray:
    out = mask.copy()
    for _ in range(radius):
        nxt = out.copy()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dy or dx:
                    nxt &= _shift2d(out, dy, dx, fill=True)
        out = nxt
    return out


def binary_closing(mask: np.ndarray, radius: int = 1) -> np.ndarray:
    """Dilation then erosion — fills holes smaller than the element
    (pipeline.py:191-205 uses a 3x3 closing)."""
    return binary_erosion(binary_dilation(mask, radius), radius)


def remove_small_objects(labels: np.ndarray, min_area: int) -> np.ndarray:
    """Zero out labels with pixel count < min_area (classification.py:343)."""
    if labels.max() == 0:
        return labels
    areas = np.bincount(labels.ravel())
    kill = areas < min_area
    kill[0] = False
    out = labels.copy()
    out[kill[labels]] = 0
    return out


# ---------------------------------------------------------------------------
# M7 — 3x3 gradient convolution projected on radial/azimuthal unit vectors
# ---------------------------------------------------------------------------

SOBEL_Y = np.array([[-1.0, -2.0, -1.0], [0.0, 0.0, 0.0], [1.0, 2.0, 1.0]]) / 8.0
SOBEL_X = SOBEL_Y.T


#: per-process scratch buffers for the raster kernels, one per role —
#: each holds the widest/tallest shape seen and hands out row-sliced
#: views, so band-height variants (halo'd top/middle/short-last bands)
#: share a buffer instead of multiplying the pool. Python workers are
#: single-threaded, so no locking is needed — and the point is that
#: repeated kernel calls touch ALREADY-FAULTED pages instead of paying
#: page-fault + zeroing for ~100 MB of large temporaries per call
#: (measured 9.5 s vs 0.9 s per band kernel under 24-way concurrency
#: before the glibc-threshold + scratch fixes).
_SCRATCH: dict[tuple[str, str], np.ndarray] = {}


def _scratch(shape: tuple[int, int], role: str, dtype=np.float64) -> np.ndarray:
    dt = np.dtype(dtype)
    key = (role, dt.str)
    buf = _SCRATCH.get(key)
    h, w = shape
    if buf is None or buf.shape[1] != w or buf.shape[0] < h:
        grow_h = h if buf is None or buf.shape[1] != w else max(h, buf.shape[0])
        buf = np.empty((grow_h, w), dtype=dt)
        _SCRATCH[key] = buf
    return buf[:h] if buf.shape[0] != h else buf


def scratch(shape: tuple[int, int], role: str, dtype=np.float64) -> np.ndarray:
    """Public handle to the per-process scratch pool for kernel callers
    (band harnesses reusing raster buffers across groups). Contents are
    undefined; roles must be unique per concurrently-live buffer."""
    return _scratch(shape, role, dtype)


#: every scratch role the fused band-gradient kernel touches — the warmup
#: stage pre-faults exactly this set (plans/gradient_stage.py aliasing
#: scheme: img->r1, inp->r2, plus the chain's internal temporaries)
BAND_SCRATCH_ROLES = (
    "band_img", "band_inp", "band_a1", "band_a2",
    "grad_gy", "grad_gx", "grad_proj", "conv_tmp",
    "umap_ry", "umap_rx",
)


def _roles_warm(
    roles: tuple[tuple[str, type], ...], shape: tuple[int, int]
) -> bool:
    """True when every (role, dtype) buffer already exists at this width
    and >= this height — its pages were faulted by a previous warmup or
    kernel call in this process, so re-zeroing them is pure
    memory-bandwidth waste (measured round 8: the per-batch warmup job
    burned 500-1200 core-seconds re-memsetting ~330 MB x 96 tasks of
    already-warm buffers every batch, and was the dominant share of the
    h-on warm-batch variance: its python-worker waits interleaved
    nondeterministically with the h-maxima kernel stage)."""
    h, w = shape
    for role, dtype in roles:
        buf = _SCRATCH.get((role, np.dtype(dtype).str))
        if buf is None or buf.shape[1] != w or buf.shape[0] < h:
            return False
    return True


#: count of warmup calls that actually re-zeroed buffers in this process
#: (regression pin for the round-8 find: a per-batch warmup that re-memsets
#: warm buffers burned 500-1200 core-s/batch — tests assert this counter
#: advances at most once per (role-set, shape) per process lifetime however
#: many batch-shaped warmup calls run)
WARMUP_MEMSET_EVENTS: int = 0


def warmup_band_scratch(shape: tuple[int, int], dtype=np.float32) -> int:
    """Pre-fault the fused band kernel's scratch set in this worker.

    First-touch page faults on the band scratch set (~60 MB float32 /
    ~120 MB float64) are the cold-call cost of the band kernel (10-20x
    the numpy time under full-node concurrency); run_image_plan submits
    a tiny warmup job concurrently with the (JVM-heavy, python-idle)
    pixel-cache build so the worker pool is pre-faulted by the time the
    kernel stage runs. Idempotent: a worker whose buffers are already
    warm returns 0 without touching memory. Returns bytes touched.

    ``dtype`` defaults to float32 — the fused kernel's integer-intensity
    gate (gradient_stage) routes every real detector frame to the
    float32 chain; a float-intensity batch falls back to float64 scratch
    and pays its own first-touch once per worker."""
    if _roles_warm(
        tuple((r, dtype) for r in BAND_SCRATCH_ROLES)
        + (("band_bad", bool),),
        shape,
    ):
        return 0
    global WARMUP_MEMSET_EVENTS
    WARMUP_MEMSET_EVENTS += 1
    n = 0
    for role in BAND_SCRATCH_ROLES:
        buf = _scratch(shape, role, dtype=dtype)
        buf[:] = 0.0
        n += buf.nbytes
    b = _scratch(shape, "band_bad", dtype=bool)
    b[:] = False
    return n + b.nbytes


#: the h-maxima kernel's scratch set (full-image shapes, unlike the band
#: roles above): input raster + marker + reconstruction, plus the bool
#: queue-seed bitmap. hmax_mask is only used for non-float callers and
#: the pipeline always passes a float raster — not pre-faulted.
HMAX_SCRATCH_ROLES = ("hmax_img", "hmax_marker", "hmax_rec")


def warmup_hmax_scratch(shape: tuple[int, int], dtype=np.float32) -> int:
    """Pre-fault the h-maxima kernel's scratch set (same first-touch
    page-fault economics as ``warmup_band_scratch``, but at FULL image
    height — ~105 MB at 2880^2 in float32). Steady-state footprint is
    unchanged: workers that run any h-maxima group grow these buffers
    anyway; this just moves the fault storm into the warmup overlap.
    Idempotent like ``warmup_band_scratch`` — warm workers return 0
    untouched. Returns bytes touched.

    ``dtype`` defaults to float32 — detector intensities are integers
    far below 2^24, so the pipeline's exactness gate
    (h_maxima_per_qbin) always routes real data to the float32 kernel;
    an exotic batch that fails the gate falls back to float64 scratch
    and pays its own first-touch faults once per worker, which is the
    right trade against doubling every worker's warm footprint."""
    if _roles_warm(
        tuple((r, dtype) for r in HMAX_SCRATCH_ROLES)
        + (("hmax_cond", bool),),
        shape,
    ):
        return 0
    global WARMUP_MEMSET_EVENTS
    WARMUP_MEMSET_EVENTS += 1
    n = 0
    for role in HMAX_SCRATCH_ROLES:
        buf = _scratch(shape, role, dtype=dtype)
        buf[:] = 0.0
        n += buf.nbytes
    b = _scratch(shape, "hmax_cond", dtype=bool)
    b[:] = False
    return n + b.nbytes


def conv3x3(img: np.ndarray, kernel: np.ndarray, out: np.ndarray | None = None) -> np.ndarray:
    """Direct 3x3 correlation with zero padding (no scipy).

    ``out`` (must not alias ``img``) receives the result; omitted, a fresh
    array is allocated. Accumulates per-tap into the valid-region view —
    bit-identical to the shift-and-add formulation (the skipped border
    contributions are exact +0.0 adds) with zero full-size temporaries
    beyond one shared scratch.

    dtype follows ``out`` (or ``img`` when out is omitted; non-float32
    inputs default to float64 as before). Tap weights are cast to the
    working dtype — exact for the dyadic Sobel taps (±1/8, ±2/8), so the
    float32 path is pure float32 arithmetic, not
    compute-in-f64-store-in-f32."""
    h, w = img.shape
    if out is None:
        dt = np.float32 if img.dtype == np.float32 else np.float64
        out = np.zeros((h, w), dtype=dt)
    else:
        out[:] = 0.0
    tmp = _scratch((h, w), "conv_tmp", dtype=out.dtype)
    wdt = out.dtype.type
    for ky in range(3):
        for kx in range(3):
            wgt = wdt(kernel[ky, kx])
            if wgt == 0.0:
                continue
            dy, dx = 1 - ky, 1 - kx
            ys0, ys1 = max(dy, 0), min(h + dy, h)
            xs0, xs1 = max(dx, 0), min(w + dx, w)
            src = img[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx]
            tv = tmp[ys0:ys1, xs0:xs1]
            np.multiply(src, wgt, out=tv)
            dv = out[ys0:ys1, xs0:xs1]
            np.add(dv, tv, out=dv)
    return out


def _shift2d_f(a: np.ndarray, dy: int, dx: int, fill: float = 0.0) -> np.ndarray:
    out = np.full(a.shape, fill, dtype=np.float64)
    h, w = a.shape
    ys0, ys1 = max(dy, 0), min(h + dy, h)
    xs0, xs1 = max(dx, 0), min(w + dx, w)
    out[ys0:ys1, xs0:xs1] = a[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx]
    return out


def radial_unit_duo(
    shape: tuple[int, int], center_y_px: float, center_x_px: float,
    dtype=np.float64,
) -> tuple[np.ndarray, np.ndarray]:
    """(r_y, r_x) unit-vector maps from the beam center, in per-process
    scratch. phi_hat is r_hat rotated 90 degrees — (p_y, p_x) =
    (r_x, -r_y) — so two arrays carry all four components; the gradient
    projection consumes the duo directly (a - b is IEEE-identical to
    a + (-b), so no separate negated map is ever materialized).

    The coordinate differences are ALWAYS computed in float64 first and
    only then cast to ``dtype``: for integer row offsets y0,
    fl64(cy - y0) is exact and fl64((i + 0.5) - (cy - y0)) equals
    fl64((y + 0.5) - cy) bit-for-bit, so a band-local float32 map is
    identical to the corresponding slice of the whole-image float32 map
    — the invariant the banded==whole gradient equality test rests on."""
    h, w = shape
    r_y = _scratch(shape, "umap_ry", dtype=dtype)
    r_x = _scratch(shape, "umap_rx", dtype=dtype)
    norm = _scratch(shape, "conv_tmp", dtype=dtype)  # dead pre-conv
    dy = (np.arange(h, dtype=np.float64) + 0.5 - center_y_px).astype(
        dtype, copy=False
    )
    dx = (np.arange(w, dtype=np.float64) + 0.5 - center_x_px).astype(
        dtype, copy=False
    )
    np.hypot(dy[:, None], dx[None, :], out=norm)
    norm[norm == 0] = 1.0
    np.divide(dy[:, None], norm, out=r_y)
    np.divide(dx[None, :], norm, out=r_x)
    return r_y, r_x


def radial_unit_maps(
    shape: tuple[int, int], center_y_px: float, center_x_px: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(r_y, r_x, p_y, p_x) unit-vector maps from the beam center — the
    reference precomputes these once per geometry (cache_creation.py:94-105).
    Kept for API compatibility; the hot path uses `radial_unit_duo`
    (p_y/p_x are derived, not stored). Returns fresh arrays."""
    r_y, r_x = radial_unit_duo(shape, center_y_px, center_x_px)
    r_y, r_x = r_y.copy(), r_x.copy()
    return r_y, r_x, r_x.copy(), -r_y


def radial_azim_gradient(
    img: np.ndarray,
    center_y_px: float,
    center_x_px: float,
    maps: tuple[np.ndarray, ...] | None = None,
    out: tuple[np.ndarray, np.ndarray] | None = None,
    components: str = "ra",
) -> tuple[np.ndarray | None, np.ndarray | None]:
    """First derivative along the radial (r_hat) and tangential (phi_hat)
    directions from the beam center — the reference precomputes r_hat/phi_hat
    unit-vector maps (cache_creation.py:94-105) and projects Sobel-style
    gradients onto them (classification.py:46-63). Apply twice for second
    derivatives; pass ``maps`` (a (r_y, r_x) duo from `radial_unit_duo`, or
    the legacy 4-tuple) to amortize the unit-vector construction across
    calls, and ``out`` (must not alias ``img``) to reuse result buffers.
    ``components`` ("r", "a", or "ra") skips the unneeded projection in
    the 2nd-derivative chain (each is computed independently, so dropping
    one is bit-neutral for the other).

    dtype follows ``img`` (float32 stays float32 end-to-end — half the
    scratch bandwidth on the plan's second-hottest kernel stage; any
    other input works in float64 as before). Callers passing ``maps`` /
    ``out`` should match the dtype or pay a silent per-element upcast."""
    shape = img.shape
    dt = np.float32 if img.dtype == np.float32 else np.float64
    gy = conv3x3(img, SOBEL_Y, out=_scratch(shape, "grad_gy", dtype=dt))
    gx = conv3x3(img, SOBEL_X, out=_scratch(shape, "grad_gx", dtype=dt))
    if maps is None:
        maps = radial_unit_duo(shape, center_y_px, center_x_px, dtype=dt)
    want_r, want_a = "r" in components, "a" in components
    if out is None:
        gr = np.empty(shape, dtype=dt) if want_r else None
        ga = np.empty(shape, dtype=dt) if want_a else None
    else:
        gr, ga = out
    tmp = _scratch(shape, "grad_proj", dtype=dt)
    if len(maps) == 2:
        r_y, r_x = maps
        p_y, p_x, neg = r_x, r_y, True
    else:
        r_y, r_x, p_y, p_x = maps
        neg = False
    if want_r:
        np.multiply(gy, r_y, out=gr)
        np.multiply(gx, r_x, out=tmp)
        np.add(gr, tmp, out=gr)
    if want_a:
        # duo path: ga = gy*p_y + gx*p_x with (p_y, p_x) = (r_x, -r_y) =
        # gy*r_x - gx*r_y, bit-identical (x - y == x + (-y) in IEEE)
        np.multiply(gy, p_y, out=ga)
        np.multiply(gx, p_x, out=tmp)
        if neg:
            np.subtract(ga, tmp, out=ga)
        else:
            np.add(ga, tmp, out=ga)
    return gr, ga


# ---------------------------------------------------------------------------
# M8 — Gaussian-weighted inpainting of masked pixels
# ---------------------------------------------------------------------------

def gaussian_kernel2d(sigma: float = 1.0, radius: int = 2) -> np.ndarray:
    ax = np.arange(-radius, radius + 1, dtype=np.float64)
    g = np.exp(-(ax**2) / (2 * sigma**2))
    k = np.outer(g, g)
    return k / k.sum()


def inpaint_masked(
    img: np.ndarray,
    bad: np.ndarray,
    sigma: float = 1.0,
    radius: int = 2,
    out: np.ndarray | None = None,
) -> np.ndarray:
    """Replace ``bad`` pixels by the Gaussian-weighted average of their good
    neighbors (normalized convolution, after astropy's
    interpolate_replace_nans as used at classification.py:88-92).
    ``out`` (must not alias ``img``) reuses a result buffer.

    DELIBERATE DEVIATION from astropy: a bad pixel with NO good pixel in
    its kernel window (deep inside a thick mask blob, e.g. a dead detector
    module) becomes 0.0, where interpolate_replace_nans would leave NaN.
    Rationale: (a) NaN would poison the np.percentile gradient thresholds
    downstream, while the reference never reads those pixels (masked
    interiors feed no labeled-pixel gradients, so no classified output
    differs); (b) zero is what the sparse/fused route produces for
    unshipped pixels, keeping all three routes bit-identical for
    arbitrary masks. The raw intensity is physically invalid anyway —
    that is why the pixel is masked."""
    k = gaussian_kernel2d(sigma, radius)
    h, w_ = img.shape
    vals = _scratch((h, w_), "inp_vals")
    np.copyto(vals, img, casting="unsafe")
    vals[bad] = 0.0
    wgts = _scratch((h, w_), "inp_wgts")
    wgts[:] = 1.0
    wgts[bad] = 0.0
    num = _scratch((h, w_), "inp_num")
    num[:] = 0.0
    den = _scratch((h, w_), "inp_den")
    den[:] = 0.0
    tmp = _scratch((h, w_), "conv_tmp")
    for ky in range(k.shape[0]):
        for kx in range(k.shape[1]):
            w = k[ky, kx]
            dy, dx = radius - ky, radius - kx
            ys0, ys1 = max(dy, 0), min(h + dy, h)
            xs0, xs1 = max(dx, 0), min(w_ + dx, w_)
            sy, sx = slice(ys0 - dy, ys1 - dy), slice(xs0 - dx, xs1 - dx)
            tv = tmp[ys0:ys1, xs0:xs1]
            np.multiply(vals[sy, sx], w, out=tv)
            dv = num[ys0:ys1, xs0:xs1]
            np.add(dv, tv, out=dv)
            np.multiply(wgts[sy, sx], w, out=tv)
            dv = den[ys0:ys1, xs0:xs1]
            np.add(dv, tv, out=dv)
    if out is None:
        out = img.astype(np.float64, copy=True)
    else:
        np.copyto(out, img, casting="unsafe")
    sel = bad & (den > 0)
    out[sel] = num[sel] / den[sel]
    out[bad & ~sel] = 0.0  # unpaintable: no good neighbor in window
    return out


def inpaint_masked_sparse(
    img: np.ndarray,
    bad: np.ndarray,
    sigma: float = 1.0,
    radius: int = 2,
    out: np.ndarray | None = None,
) -> np.ndarray:
    """`inpaint_masked` evaluated ONLY at the bad pixels: num/den are read
    nowhere else (sel = bad & den>0), so the dense 2x25-tap normalized
    convolution collapses to 25 gathers over the bad-pixel index vectors —
    no full-raster num/den/vals/wgts buffers at all. Tap order matches the
    dense loop exactly, skipped taps are exact +0.0 contributions, so the
    result is bit-identical (equality-tested). Preferred when bad pixels
    are sparse (outlier/base masks: ~1-10%); the dense route stays for
    pathological masks."""
    k = gaussian_kernel2d(sigma, radius)
    h, w = img.shape
    if out is None:
        out = img.astype(np.float64, copy=True)
    else:
        np.copyto(out, img, casting="unsafe")
    by, bx = np.nonzero(bad)
    if by.size == 0:
        return out
    num = np.zeros(by.size)
    den = np.zeros(by.size)
    for ky in range(k.shape[0]):
        for kx in range(k.shape[1]):
            wgt = k[ky, kx]
            # dense loop adds neighbor (y + ky - radius, x + kx - radius)
            yy = by + (ky - radius)
            xx = bx + (kx - radius)
            ok = (yy >= 0) & (yy < h) & (xx >= 0) & (xx < w)
            yyc, xxc = yy[ok], xx[ok]
            good = ~bad[yyc, xxc]
            # gather to float64 EXPLICITLY: under numpy 1.x value-based
            # casting, float32 gathered values demote the float64 tap
            # weight and the product rounds in float32 — silently
            # breaking the bit-identity with the dense route, whose
            # `vals` scratch is float64 (caught by round-12 review; the
            # upcast is exact, the gathered vectors are bad-pixel-sized)
            vals = img[yyc, xxc].astype(np.float64)
            num[ok] += wgt * np.where(good, vals, 0.0)
            den[ok] += wgt * good
    sel = den > 0
    out[by[sel], bx[sel]] = num[sel] / den[sel]
    out[by[~sel], bx[~sel]] = 0.0  # unpaintable: matches the dense route
    return out


# ---------------------------------------------------------------------------
# M6 — h-maxima (regional maxima after h-reconstruction)
# ---------------------------------------------------------------------------

def _clamp_scan_ltr(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Left-to-right scan of the recurrence t[x] = clip(t[x-1], lo[x], hi[x])
    with t[-1] = -inf (so t[0] = lo[0]), vectorized by clamp-composition
    doubling: each element's update f_x(s) = clip(s, lo, hi) is a clamp, the
    composition of two clamps is a clamp — clip(clip(s,a1,b1),a2,b2) =
    clip(s, clip(a1,a2,b2), clip(b1,a2,b2)) — so the prefix composition is a
    Hillis-Steele scan in O(log n) vector steps instead of a per-pixel loop.
    Requires lo <= hi elementwise. Returns t (= the prefix clamp's lower
    bound, since clip(-inf, A, B) = A)."""
    A = lo.copy()
    B = hi.copy()
    d = 1
    n = A.size
    while d < n:
        a1, b1 = A[:-d], B[:-d]   # left segment (applied first)
        a2, b2 = A[d:], B[d:]     # right segment (applied second)
        new_a = np.clip(a1, a2, b2)
        new_b = np.clip(b1, a2, b2)
        A[d:] = new_a
        B[d:] = new_b
        d *= 2
    return A


def grayscale_reconstruct(
    marker: np.ndarray, mask: np.ndarray, out: np.ndarray | None = None
) -> np.ndarray:
    """Grayscale reconstruction-by-dilation of ``marker`` under ``mask``
    (8-connectivity), via Vincent's hybrid algorithm (L. Vincent,
    "Morphological grayscale reconstruction in image analysis", IEEE TIP
    1993, Fig. 10): one raster sweep, one anti-raster sweep with FIFO-queue
    seeding, then queue propagation — exact, and O(n) instead of the O(n *
    diameter) of iterated full-image dilations. Out-of-image neighbors are
    ignored (-inf), matching skimage.morphology.reconstruction.

    The two sweeps process rows sequentially but each row is vectorized:
    the upper/lower-neighbor max is a shifted elementwise max, and the
    in-row left/right propagation t[x] = min(mask[x], max(t[x +/- 1],
    cand[x])) is the clamp-composition doubling scan (`_clamp_scan_ltr`).

    ``out`` (float64 or float32, same shape) receives the reconstruction
    and is returned; hot-path callers (h_maxima under applyInPandas) pass
    a ``scratch()`` buffer so repeated calls in a reused worker touch
    already-faulted pages instead of paying first-touch page faults for
    an image-sized float temporary per call (same economics as the
    band-gradient kernels — see the _SCRATCH doc above).

    dtype: the algorithm is pure lattice arithmetic (min/max/compare —
    no accumulation), so it is EXACT in any float dtype that exactly
    represents the input values. A float32 working set halves the
    kernel's scratch bandwidth — the measured stall magnet at full-node
    concurrency (round-11 split-arm record) — and is exact whenever the
    inputs are integers in (-2^24, 2^24) (``h_maxima`` gates on exactly
    that). To prevent SILENT precision loss, a float32 ``out`` is only
    accepted when marker AND mask are already float32 — this function
    never downcasts an input.
    """
    if out is None:
        work_dtype = (
            np.float32
            if (
                np.asarray(marker).dtype == np.float32
                and np.asarray(mask).dtype == np.float32
            )
            else np.float64
        )
        J = np.minimum(marker, mask).astype(work_dtype)
    else:
        # the worklist phase writes through J.ravel(), which COPIES for a
        # non-contiguous array — silently discarding the queue updates —
        # so reject anything but a C-contiguous float of the right shape
        if (
            out.shape != np.shape(marker)
            or out.dtype not in (np.float64, np.float32)
            or not out.flags["C_CONTIGUOUS"]
        ):
            raise ValueError(
                "out must be a C-contiguous float64/float32 array of "
                "marker's shape"
            )
        if out.dtype == np.float32 and (
            np.asarray(marker).dtype != np.float32
            or np.asarray(mask).dtype != np.float32
        ):
            raise ValueError(
                "float32 out requires float32 marker and mask — this "
                "function never downcasts inputs (exactness gate lives "
                "in the caller)"
            )
        np.minimum(marker, mask, out=out, casting="unsafe")
        J = out
    I = np.asarray(mask, dtype=J.dtype)
    h, w = J.shape

    # --- raster sweep (top-left -> bottom-right; N+ = up-left/up/up-right
    # already final this sweep, left folded into the scan)
    for y in range(h):
        if y > 0:
            p = J[y - 1]
            c = np.maximum(J[y], p)
            np.maximum(c[1:], p[:-1], out=c[1:])    # up-left
            np.maximum(c[:-1], p[1:], out=c[:-1])   # up-right
        else:
            c = J[y].copy()
        np.minimum(c, I[y], out=c)
        J[y] = _clamp_scan_ltr(c, I[y])

    # --- anti-raster sweep (bottom-right -> top-left)
    for y in range(h - 1, -1, -1):
        if y < h - 1:
            p = J[y + 1]
            c = np.maximum(J[y], p)
            np.maximum(c[1:], p[:-1], out=c[1:])    # down-left
            np.maximum(c[:-1], p[1:], out=c[:-1])   # down-right
        else:
            c = J[y].copy()
        np.minimum(c, I[y], out=c)
        J[y] = _clamp_scan_ltr(c[::-1], I[y][::-1])[::-1]

    # --- queue seeding: p joins the FIFO if some anti-raster neighbor q
    # could still be raised through p (J[q] < J[p] and J[q] < I[q]).
    # Evaluated vectorized on the post-sweep values — every q in N-(p) is
    # updated before p in anti-raster order, so these ARE the values the
    # sequential formulation would have seen.
    cond = _scratch(J.shape, "hmax_cond", dtype=bool)
    cond[:] = False
    for dy, dx in ((1, -1), (1, 0), (1, 1), (0, 1)):
        ys0, ys1 = max(0, -dy), h - max(0, dy)
        xs0, xs1 = max(0, -dx), w - max(0, dx)
        jp = J[ys0:ys1, xs0:xs1]
        jq = J[ys0 + dy:ys1 + dy, xs0 + dx:xs1 + dx]
        iq = I[ys0 + dy:ys1 + dy, xs0 + dx:xs1 + dx]
        cond[ys0:ys1, xs0:xs1] |= (jq < jp) & (jq < iq)

    # --- worklist propagation of whatever the sweeps missed (curved ridge
    # structure — e.g. powder rings — where max-min paths change direction
    # many times). Vincent uses a scalar FIFO; here the frontier is
    # propagated a whole WAVE at a time with vectorized gathers and a
    # scatter-max, which is ~50x cheaper per pixel in numpy. Monotone
    # lattice ascent to the same unique fixpoint (J only ever increases,
    # capped by I; every raisable pixel is re-enqueued when raised), so the
    # result is exactly the sequential algorithm's. Small frontiers fall
    # back to the scalar FIFO (a handful of numpy calls per wave would
    # dominate an 8-pixel frontier).
    Jf = J.ravel()
    If = I.ravel()
    n_flat = h * w
    offs = (-w - 1, -w, -w + 1, -1, 1, w - 1, w, w + 1)
    frontier = np.flatnonzero(cond.ravel())
    while frontier.size > 256:
        jp = Jf[frontier]
        cols = frontier % w
        nxt = []
        for off in offs:
            nb = frontier + off
            ok = (nb >= 0) & (nb < n_flat)
            if off in (-w - 1, -1, w - 1):
                ok &= cols > 0
            if off in (-w + 1, 1, w + 1):
                ok &= cols < w - 1
            nb = nb[ok]
            cand = np.minimum(If[nb], jp[ok])
            imp = cand > Jf[nb]
            if imp.any():
                raised = nb[imp]
                np.maximum.at(Jf, raised, cand[imp])
                nxt.append(raised)
        frontier = (
            np.unique(np.concatenate(nxt)) if nxt
            else np.empty(0, dtype=np.int64)
        )

    from collections import deque

    q = deque(frontier.tolist())
    while q:
        p = q.popleft()
        jp = Jf[p]
        py, px = divmod(p, w)
        for dy in (-1, 0, 1):
            ny = py + dy
            if ny < 0 or ny >= h:
                continue
            for dx in (-1, 0, 1):
                if dy == 0 and dx == 0:
                    continue
                nx = px + dx
                if nx < 0 or nx >= w:
                    continue
                nb = ny * w + nx
                if Jf[nb] < jp and If[nb] != Jf[nb]:
                    Jf[nb] = jp if jp < If[nb] else If[nb]
                    q.append(nb)
    return J


def _reconstruct_iterative(
    marker: np.ndarray, mask: np.ndarray, max_iter: int = 512
) -> np.ndarray:
    """Reference engine for tests: iterated full-image geodesic dilation
    (rec <- min(dilate(rec), mask) to fixpoint). Same -inf border convention
    as `grayscale_reconstruct`. O(n * diameter) — test scale only."""
    rec = np.minimum(marker, mask).astype(np.float64)
    maskf = np.asarray(mask, dtype=np.float64)
    neg = np.float64("-inf")
    for _ in range(max_iter):
        dil = rec.copy()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dy or dx:
                    np.maximum(dil, _shift2d_f(rec, dy, dx, fill=neg), out=dil)
        new = np.minimum(dil, maskf)
        if np.array_equal(new, rec):
            break
        rec = new
    return rec


def h_maxima(img: np.ndarray, h: float, max_iter: int = 512) -> np.ndarray:
    """Morphological reconstruction-by-dilation of (img - h) under img,
    then regional-maxima flag — the standard definition (Soille, Morphological
    Image Analysis; skimage.morphology.h_maxima). Reconstruction uses the
    Vincent'93 hybrid (raster + anti-raster + FIFO queue), so full-resolution
    2880^2 frames run in seconds instead of the minutes the iterated-dilation
    formulation needs (``max_iter`` is kept for signature compatibility; the
    hybrid is exact and needs no iteration cap)."""
    del max_iter  # the hybrid algorithm is exact in one pass
    shape = img.shape
    # Every image-sized float temporary lives in the per-process scratch
    # pool (mask copy, marker, reconstruction) — ~100-200 MB of
    # first-touch page faults per 2880^2 call otherwise, the dominant
    # cost under full-node applyInPandas concurrency (SCALE.md,
    # band-kernel numbers). All three are dead at return; only the bool
    # result is fresh.
    #
    # dtype: a float32 input runs the whole kernel in float32 — HALF the
    # scratch bandwidth of float64 on the plan's measured stall-magnet
    # stage (round-11 split-arm record: identical h jobs cost 181.6 vs
    # 39.0 run core-s purely on host memory stall). The algorithm is
    # pure lattice min/max plus two subtractions, so float32 is EXACT
    # (bit-identical boolean output to the float64 path) whenever the
    # image values and h are integers with |img| < 2^24 and
    # img.min() - h > -2^24 — the caller-side gate
    # (plans.image_pipeline.h_maxima_per_qbin builds the raster float32
    # only under that predicate; tests/test_kernels.py pins f32==f64 on
    # the synthetic fixtures and the planted-spot oracle).
    if isinstance(img, np.ndarray) and img.dtype in (
        np.float64, np.float32,
    ):
        maskf = img
    else:
        maskf = _scratch(shape, "hmax_mask")
        np.copyto(maskf, img, casting="unsafe")
    dt = maskf.dtype
    marker = np.subtract(
        maskf, dt.type(h), out=_scratch(shape, "hmax_marker", dtype=dt)
    )
    rec = grayscale_reconstruct(
        marker, maskf, out=_scratch(shape, "hmax_rec", dtype=dt)
    )
    # regional maxima of the reconstruction: pixels strictly above all
    # neighbors' reconstruction would miss plateaus; use the h-maxima
    # criterion img - rec >= ... standard: maxima where rec < img is false.
    resid = np.subtract(maskf, rec, out=marker)  # marker dead post-init
    # threshold cast to the working dtype explicitly: in float32,
    # h - 1e-9 rounds back to h for any h >= 2^-15, and the gated regime
    # (integer resid, integer h) makes `resid >= h` equivalent to the
    # float64 path's `resid >= h - 1e-9` — both count resid == h in,
    # resid == h-1 out.
    return resid >= dt.type(h - 1e-9)
