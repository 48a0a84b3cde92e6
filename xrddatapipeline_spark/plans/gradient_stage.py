"""Gradient classification stage (SURVEY §2.9, classification.py:447-608).

Refines the shape classifier's arc/spot decision using second derivatives
along the radial / azimuthal directions: a single-crystal spot embedded in
a texture arc shows strong radial curvature, so clusters of extreme
azimuthal curvature inside arc-classified regions are cut out and flipped
to spots (`split_grad_with_Q_groupby`). Composition:

  M8 inpaint -> M7 x2 (2nd radial / 2nd azim derivative)     [one kernel]
  A12 per-image global percentiles of the 2nd radial grad
  A10/J2 per-label median Q broadcast back
  A11 central-band (|Q - medQ| < 0.02) p20 of 2nd radial -> on_arc
  gradient mask (2nd azim < global threshold) ∧ on_arc -> M1 relabel
  A13 per-gradient-cluster circular-median azimuth + parent label
  A14 swap: parent-arc pixels within 5 x Qwidth of the cluster's azimuth
      flip arc -> spot (new_spot / new_arc case-when)

Thresholds (threshold_percentile=0.1 => p0.1/p10, central band 0.02,
swap radius 5 x Qwidth) follow classification.py:849-860 / SURVEY §2.9.

Scale shape: ONE applyInPandas kernel pass per image emits the two
gradient columns; everything after is hash aggregation on (image_id,
label) keys (bounded cardinality) plus broadcast joins — the same
one-shuffle discipline as the rest of the per-image plan.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xrddatapipeline_spark.calib.geometry import ImageControls
from xrddatapipeline_spark.functions.binning import in_circular_range
from xrddatapipeline_spark.operators import kernels
from xrddatapipeline_spark.operators.raster import label_pixels

CENTRAL_BAND_Q = 0.02
THRESHOLD_PCT = 0.1  # percent, classification.py:849-860
SWAP_RADIUS_QWIDTHS = 5.0


#: ghost-row halo for exact band tiling: inpaint stencil radius 2, then two
#: successive 3x3 gradient convolutions (radius 1 each) — a core row depends
#: on at most 4 rows either side, so a 4-row halo reproduces the whole-image
#: result bit-for-bit (zero padding only ever applies at true image edges).
_GRAD_HALO = 4


def _grad_dtype(inten: np.ndarray):
    """Working dtype for the gradient chain (round 12): float32 for
    integer intensities — every real detector frame — halving the scratch
    bandwidth of the plan's second-hottest kernel stage (measured 2.3x
    per band-chain single-threaded; the Sobel taps are dyadic so the
    convolutions stay exact, only the unit-vector projections and the
    inpaint divisions round at ~1e-7 relative, tolerance-pinned in
    tests). The gate reads ONLY the dtype, never values, so every band
    of every image and the dense reference route make the same choice —
    the precondition for the banded==whole / fused==dense bit-equality
    invariants, which now hold within the float32 chain. Float
    intensities (no integer-exactness headroom argument) stay float64."""
    return (
        np.float32
        if np.issubdtype(np.asarray(inten).dtype, np.integer)
        else np.float64
    )


def _band_membership(bh: int, halo: int, n_bands: int):
    """(own-band expr, band-membership array expr) for halo tiling.

    A pixel belongs to its own band always, to the previous band iff
    y % bh < halo, to the next iff y % bh >= bh - halo (requires
    bh > 2*halo, asserted). Expressed as CASE + CreateArray — NOT
    F.filter: higher-order array functions are CodegenFallback
    (interpreted per row), which profiled as a top-stage CPU cost on the
    67 M-row kernel-feed exchange at 8 x 2880^2."""
    assert bh > 2 * halo, "band_rows must exceed twice the halo"
    yb = F.floor(F.col("y") / bh).cast("int")
    ym = F.col("y") - yb * bh
    bands = (
        F.when((ym < halo) & (yb > 0), F.array(yb, yb - 1))
        .when((ym >= bh - halo) & (yb < n_bands - 1), F.array(yb, yb + 1))
        .otherwise(F.array(yb))
    )
    return yb, bands


def second_gradients(
    px: DataFrame, controls: ImageControls, band_rows: int = 512
) -> DataFrame:
    """M8 + M7 x2 per image: (image_id, y, x, grad_r2, grad_a2).

    Inpaints base-masked pixels (normalized Gaussian convolution), then
    applies the r̂/φ̂-projected 3x3 gradient twice.

    Images taller than ``band_rows`` are tiled into horizontal bands with
    ``_GRAD_HALO`` ghost rows (halo pixels are duplicated into adjacent
    bands by the explode below, ~2*4/band_rows row overhead): the kernel
    is EXACT per band, and per-image parallelism becomes
    n_images * n_bands instead of n_images — on a 32-core node an 8-image
    2880^2 batch runs 48 kernel tasks, not 8; on a cluster the same
    tiling bounds task memory at band_rows*width regardless of detector
    size."""
    h, w = controls.size_y, controls.size_x
    cy = controls.center_y / (controls.pixel_size_y / 1000.0)
    cx = controls.center_x / (controls.pixel_size_x / 1000.0)
    n_bands = max(1, -(-h // band_rows))
    bh = band_rows
    halo = _GRAD_HALO

    def _grad_rows(pdf: pd.DataFrame, y0: int, y1: int,
                   core0: int, core1: int) -> pd.DataFrame:
        """Exact kernel over raster rows [y0, y1); emit rows [core0, core1)."""
        inten = pdf["intensity"].to_numpy()
        dt = _grad_dtype(inten)
        img = np.zeros((y1 - y0, w), dtype=dt)
        bad = np.ones((y1 - y0, w), dtype=bool)
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        img[ys - y0, xs] = inten
        bad[ys - y0, xs] = pdf["base_mask"].to_numpy()
        inp = kernels.inpaint_masked(img, bad, out=np.empty_like(img))
        # shifting the raster down by y0 moves the beam center with it
        umaps = kernels.radial_unit_duo(img.shape, cy - y0, cx, dtype=dt)
        r1, a1 = kernels.radial_azim_gradient(inp, cy - y0, cx, maps=umaps)
        r2, _ = kernels.radial_azim_gradient(r1, cy - y0, cx, maps=umaps)
        _, a2 = kernels.radial_azim_gradient(a1, cy - y0, cx, maps=umaps)
        keep = (ys >= core0) & (ys < core1)
        ys, xs = ys[keep], xs[keep]
        return pd.DataFrame(
            {
                "image_id": np.repeat(pdf["image_id"].iloc[0], ys.size),
                "y": ys.astype(np.int32),
                "x": xs.astype(np.int32),
                "grad_r2": r2[ys - y0, xs].astype(np.float64),
                "grad_a2": a2[ys - y0, xs].astype(np.float64),
            }
        )

    schema = "image_id string, y int, x int, grad_r2 double, grad_a2 double"
    src = px.select("image_id", "y", "x", "intensity", "base_mask")
    if n_bands == 1:
        return src.groupBy("image_id").applyInPandas(
            lambda pdf: _grad_rows(pdf, 0, h, 0, h), schema
        )

    yb, bands = _band_membership(bh, halo, n_bands)

    def _grad_band(key, pdf: pd.DataFrame) -> pd.DataFrame:
        band = int(key[1])
        y0, y1 = max(band * bh - halo, 0), min((band + 1) * bh + halo, h)
        return _grad_rows(pdf, y0, y1, band * bh, min((band + 1) * bh, h))

    return (
        src.withColumn("band", F.explode(bands))
        .groupBy("image_id", "band")
        .applyInPandas(_grad_band, schema)
    )


def fused_gradient_inputs(
    px: DataFrame, lpx: DataFrame, controls: ImageControls,
    band_rows: int = 512,
    n_images: int | None = None,
) -> DataFrame:
    """The banded gradient kernel WITHOUT materializing the dense raster.

    The full gradient frame (8.3 M rows x 2 doubles per image) has exactly
    two consumers: the per-image percentile thresholds and the join onto
    the (sparse) labeled pixels. Arrow-encoding 66 M output rows and
    checkpointing 2.5 GB just to serve those was the top cost of the
    8 x 2880^2 profile — so the kernel now emits only what they need:

    - one row per LABELED pixel with its (grad_r2, grad_a2) — the lpx
      coordinates arrive in the same task via cogroup, and the raster is
      indexed in-kernel;
    - one SUMMARY row per band holding the band's bottom-k gradient
      values as a float64 blob, where k = 10% of the image + slack for
      r2 (covers both p0.1 and p10) and 0.1% + slack for a2. The union
      of per-band bottom-(k+2) sets provably contains the image's
      order statistics floor(h) and floor(h)+1 for h=(N-1)q (any value
      among an image's k smallest ranks <= k within its own band), so
      the downstream merge reproduces numpy's linearly-interpolated
      percentile EXACTLY (test-asserted bit equality).

    Output rows: n_labeled + n_bands per image (~0.5 M + 6 at 2880^2)
    instead of 8.3 M — the dense gradient raster never leaves the kernel.

    ``band_rows`` 512 (6 bands at 2880^2) is a measured default: a
    round-10 A/B (8 x 2880^2, two sessions, order-rotated, min-of-3)
    read min grad_fused run 197.0 / 189.8 / 193.8 core-s at 720 / 512 /
    360 rows and batch minimums 94.6 / 80.9 / 79.6 s — wave packing does
    not move the steady state beyond weather.

    Shuffle-byte economics (round-3 profile: the kernel-feed exchange was
    the single largest stage, ~1 GB write / 27% of batch core-time):

    - base-masked pixels are NOT shipped at all. The pixel table is dense
      (one row per detector position — the S1/S9 sources emit every
      pixel), so "absent in the kernel input" ⇔ "base-masked", which is
      exactly the ``bad`` raster the inpaint step needs; the masked
      pixels' intensities are never read (normalized convolution zeroes
      them). The percentile-candidate multiset is likewise recovered from
      the dense core raster itself (every band position is a pixel row),
      not from the shipped rows.
    - the surviving rows ship as ONE packed int64 — (y*8192 + x) << 32 |
      (intensity + 2^31) — instead of (y int, x int, intensity int,
      base_mask boolean): 2 row fields instead of 5 cuts the UnsafeRow
      shuffle width ~40% and the post-shuffle Arrow conversion to 3
      columns. Detectors wider than 8191 px fall back to the unpacked
      layout.
    """
    h, w = controls.size_y, controls.size_x
    cy = controls.center_y / (controls.pixel_size_y / 1000.0)
    cx = controls.center_x / (controls.pixel_size_x / 1000.0)
    n_bands = max(1, -(-h // band_rows))
    bh = band_rows
    halo = _GRAD_HALO
    keep_r2 = int(0.10 * h * w) + 4   # covers p10 (and p0.1) order stats
    keep_a2 = int((THRESHOLD_PCT / 100.0) * h * w) + 4
    # packed feed requires an intensity column whose VALUES fit int32:
    # the int64 pack casts intensity to long, which would silently
    # TRUNCATE a double column — and the unpacked int64 would also flip
    # _grad_dtype to float32 while the dense reference route (which
    # reads the raw column) stayed float64, breaking the fused==dense
    # invariant for that input (round-12 review). The pack also stores
    # intensity + 2^31 in the 32-bit low field, so a bigint >= 2^31
    # would carry into the yx bits and one < -2^31 would be dropped as
    # the sentinel (round-12 ADVICE): only tinyint/smallint/int are safe
    # by construction. Doubles and bigints take the unpacked layout,
    # exact and route-consistent (_grad_dtype reads the source column
    # type either way).
    packed = (
        h <= 8192 and w <= 8192
        and dict(px.dtypes).get("intensity") in
        ("tinyint", "smallint", "int")
    )

    schema = (
        "image_id string, y int, x int, grad_r2 double, grad_a2 double, "
        "n_core long, r2_cand binary, a2_cand binary, is_summary boolean"
    )

    # Round 15 (guide §4.2): the cogroup kernel consumes pyarrow Tables
    # (applyInArrow) instead of pandas DataFrames — the grouped-pandas
    # path paid table.to_pandas() per (image, band) group, and the string
    # image_id column alone converts at ~0.05-0.1 s per 1.4 M-row band
    # (measured; spikes under allocator pressure — a suspected
    # contributor to this stage's bimodal batches). numpy reads the int
    # columns zero-copy off the Arrow buffers; identical arrays reach the
    # kernel, identical values leave it (banded==whole / fused==dense
    # bit-equality tests pin the path).
    def _band(key, px_tbl, lpx_tbl):
        import os as _os
        import sys as _sys
        import time as _time

        import pyarrow as pa

        _timing = bool(_os.environ.get("XRDSPARK_KERNEL_TIMING"))
        # kernel-side fixed-work canary (round 15, r14 verdict #2): the
        # JVM-side px canary cannot see Python-worker contention, so the
        # grad_fused blow-ups (78-95 vs 344-881 run core-s at px canary
        # 1.0) were unattributable. A fixed ~8 MB scratch-pool memset +
        # read (the kernel's own access pattern) timed per call makes a
        # memory-stalled worker read hot in the KT line (calm: ~2-3 ms).
        _canary = None
        if _timing:
            _cb = kernels.scratch((4, w), "band_canary", dtype=np.float64)
            _tc = _time.perf_counter()
            for _ in range(90):
                _cb[:] = 1.0
                _canary_sum = float(_cb[0, 0]) + float(_cb[-1, -1])
            _canary = _time.perf_counter() - _tc
        _t0 = _time.perf_counter()
        image_id = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
        band = int(key[1].as_py() if hasattr(key[1], "as_py") else key[1])
        y0, y1 = max(band * bh - halo, 0), min((band + 1) * bh + halo, h)
        core0, core1 = band * bh, min((band + 1) * bh, h)
        # every raster lives in the per-process scratch pool: repeated
        # groups in a reused worker touch already-faulted pages instead of
        # paying first-touch page faults for ~200 MB of band rasters per
        # call (the dominant kernel-stage cost under 25-way concurrency)
        shape = (y1 - y0, w)
        if packed:
            v = px_tbl["p"].to_numpy()
            v = v[v >= 0]  # drop the per-band sentinel (p = -1)
            inten = (v & 0xFFFFFFFF) - 2**31
            yx = v >> 32
            ys = yx // 8192
            xs = yx - ys * 8192
        else:
            ys = px_tbl["y"].to_numpy()
            keep = ys >= 0  # drop the per-band sentinel (y = -1)
            ys = ys[keep]
            xs = px_tbl["x"].to_numpy()[keep]
            inten = px_tbl["intensity"].to_numpy()[keep]
        # float32 chain for integer intensities (every real detector
        # frame): HALF the scratch bandwidth of the round-11 float64
        # chain on the plan's second-hottest kernel stage, measured 2.3x
        # faster per band-chain single-threaded. The gate reads only the
        # intensity DTYPE (never values), so every band of every image —
        # and the dense reference route — makes the same choice, which
        # is what keeps the banded==whole and fused==dense bit-equality
        # tests meaningful (both sides run the identical float32 ops).
        # Accuracy: ~1e-7 relative vs float64 on values that feed
        # percentile thresholds — tolerance-pinned in
        # tests/test_gradient_stage.py.
        dt = _grad_dtype(inten)
        img = kernels.scratch(shape, "band_img", dtype=dt)
        img[:] = 0.0
        bad = kernels.scratch(shape, "band_bad", dtype=bool)
        bad[:] = True
        img[ys - y0, xs] = inten
        bad[ys - y0, xs] = False  # shipped rows are exactly the unmasked
        _t1 = _time.perf_counter()
        # sparse normalized convolution: num/den only at bad pixels — no
        # full-raster inpaint buffers (bit-identical to the dense route)
        inp = kernels.inpaint_masked_sparse(
            img, bad, out=kernels.scratch(shape, "band_inp", dtype=dt)
        )
        umaps = kernels.radial_unit_duo(shape, cy - y0, cx, dtype=dt)
        # buffer aliasing: img is dead after inpaint -> reuse as r1;
        # inp is dead after the first gradient call -> reuse as r2.
        # calls 2/3 compute only the component they feed (the other
        # projection of a 2nd derivative is never read).
        r1, a1 = kernels.radial_azim_gradient(
            inp, cy - y0, cx, maps=umaps,
            out=(img, kernels.scratch(shape, "band_a1", dtype=dt)),
        )
        r2, _ = kernels.radial_azim_gradient(
            r1, cy - y0, cx, maps=umaps, out=(inp, None), components="r",
        )
        _, a2 = kernels.radial_azim_gradient(
            a1, cy - y0, cx, maps=umaps,
            out=(None, kernels.scratch(shape, "band_a2", dtype=dt)),
            components="a",
        )

        # candidate multiset = the dense frame's values over this band's
        # CORE rows — every raster position is a pixel row, so slice the
        # raster directly instead of indexing by shipped coordinates
        _t2 = _time.perf_counter()
        r2v = r2[core0 - y0 : core1 - y0].ravel()
        a2v = a2[core0 - y0 : core1 - y0].ravel()

        def bottom(vals: np.ndarray, k: int) -> bytes:
            if len(vals) > k:
                vals = np.partition(vals, k - 1)[:k]
            return np.ascontiguousarray(vals, dtype=np.float64).tobytes()

        if lpx_tbl.num_rows:
            lys = lpx_tbl["y"].to_numpy()
            lxs = lpx_tbl["x"].to_numpy()
        else:
            lys = np.zeros(0, dtype=np.int64)
            lxs = lys
        nl = lys.size
        # labeled rows first, the band summary row last (the pre-r15
        # pandas concat order — row order within a group is free anyway)
        ys_out = np.full(nl + 1, -1, dtype=np.int32)
        xs_out = np.full(nl + 1, -1, dtype=np.int32)
        r2_out = np.zeros(nl + 1, dtype=np.float64)
        a2_out = np.zeros(nl + 1, dtype=np.float64)
        ncore_out = np.zeros(nl + 1, dtype=np.int64)
        issum_out = np.zeros(nl + 1, dtype=bool)
        if nl:
            ys_out[:nl] = lys
            xs_out[:nl] = lxs
            r2_out[:nl] = r2[lys - y0, lxs]
            a2_out[:nl] = a2[lys - y0, lxs]
        ncore_out[nl] = len(r2v)
        issum_out[nl] = True
        result = pa.table(
            {
                "image_id": pa.array(
                    [image_id] * (nl + 1), type=pa.string()
                ),
                "y": pa.array(ys_out),
                "x": pa.array(xs_out),
                "grad_r2": pa.array(r2_out),
                "grad_a2": pa.array(a2_out),
                "n_core": pa.array(ncore_out),
                "r2_cand": pa.array(
                    [None] * nl + [bottom(r2v, keep_r2)], type=pa.binary()
                ),
                "a2_cand": pa.array(
                    [None] * nl + [bottom(a2v, keep_a2)], type=pa.binary()
                ),
                "is_summary": pa.array(issum_out),
            }
        )
        if _timing:
            print(
                f"KT band={image_id}/{band} rows={px_tbl.num_rows} "
                f"canary={_canary:.4f} "
                f"unpack={_t1 - _t0:.2f} conv={_t2 - _t1:.2f} "
                f"emit={_time.perf_counter() - _t2:.2f} pid={_os.getpid()}",
                file=_sys.stderr,
                flush=True,
            )
        return result

    yb, bands = _band_membership(bh, halo, n_bands)
    src = px.select("image_id", "y", "x", "intensity", "base_mask").where(
        ~F.col("base_mask")
    )
    if packed:
        src = src.select(
            "image_id",
            "y",
            (
                F.shiftleft(
                    F.col("y").cast("long") * 8192 + F.col("x"), 32
                )
                + (F.col("intensity").cast("long") + F.lit(2**31))
            ).alias("p"),
        )
    src = src.withColumn("band", F.explode(bands) if n_bands > 1 else yb)
    if packed:
        src = src.drop("y")
    # Guarantee one cogroup group per (image_id, band) even when a band's
    # entire halo'd slice is base-masked (e.g. a dead detector module):
    # .where(~base_mask) would otherwise drop the group and its summary row,
    # shorting n_core and the candidate multiset. One sentinel row per band
    # (p/y = -1, filtered out in-kernel) keeps the group alive; an empty
    # raster inpaints to zeros exactly as the dense route does (den == 0
    # leaves img's zeros in place), so bit-identity to np.percentile holds.
    # Image list comes from lpx (tiny): an image with no labeled pixels has
    # no threshold consumers, so its summary rows are never read.
    sent = (
        lpx.select("image_id")
        .distinct()
        .select(
            "image_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_bands - 1))
            ).alias("band"),
        )
    )
    for fld in src.schema.fields:
        if fld.name not in ("image_id", "band"):
            default = -1 if fld.name in ("p", "y", "x") else 0
            sent = sent.withColumn(
                fld.name, F.lit(default).cast(fld.dataType)
            )
    src = src.unionByName(sent.select(*src.columns))
    # fresh attributes: lpx's pixel columns can come from px's own lineage
    # (labeled_pixels_frame's dense probe), and a cogroup of two frames
    # sharing an attribute fails Spark's ambiguous self-join check
    lsrc = lpx.select(
        *[F.col(c).alias(c) for c in ("image_id", "y", "x")]
    ).withColumn("band", yb)
    if n_images is not None:
        src, lsrc = _balanced_group_partitions(
            src, lsrc, n_groups=n_images * n_bands
        )
    return (
        src.groupBy("image_id", "band")
        .cogroup(lsrc.groupBy("image_id", "band"))
        .applyInArrow(_band, schema)
    )


def _balanced_group_partitions(
    src: DataFrame, lsrc: DataFrame, n_groups: int
) -> tuple[DataFrame, DataFrame]:
    """Pre-partition both cogroup sides on the group key with an EXPLICIT
    partition count of 4 x n_groups (capped): the cogroup exchange then
    reuses the partitioning (HashPartitioning on the same keys satisfies
    the ClusteredDistribution requirement) and AQE does not coalesce a
    user-specified repartition. Default behavior hashed ~48 band-kernel
    groups into 25 AQE-coalesced partitions — the stage wall became the
    unlucky task running 3 kernels back-to-back. 4x over-provisioning
    keeps the expected max load at <= 2 groups per task; empty partitions
    cost nothing."""
    n_part = 4 * n_groups
    if n_part <= 0:
        return src, lsrc  # empty batch: nothing to balance, and
        # repartition(0) would be an error
    if n_part > 4096:
        return src, lsrc  # enough groups to balance statistically
    return (
        src.repartition(n_part, "image_id", "band"),
        lsrc.repartition(n_part, "image_id", "band"),
    )


def exact_percentiles_from_candidates(fused_summaries: DataFrame) -> DataFrame:
    """Merge the per-band bottom-k candidate blobs into the image-level
    thresholds — bit-identical to np.percentile over the dense frame.

    INVARIANT (round-4 ADVICE): summaries are complete only for images
    that appear in ``lpx`` (the labeled-pixel feed). The per-band sentinel
    that keeps fully-masked bands' groups alive is generated from
    lpx-distinct image ids, so an image with pixels but NO labeled
    clusters can be missing band summaries here — its n_core/candidate
    union would be short. That is currently unobservable (thresholds are
    consumed only joined back to labeled pixels, and such an image has
    none), but any NEW image-level consumer of this output must first
    widen the sentinel source from lpx to px (see the sentinel block in
    fused_gradient_inputs)."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["n_core"].sum())
        r2c = np.concatenate(
            [np.frombuffer(b, dtype=np.float64) for b in pdf["r2_cand"]]
        )
        a2c = np.concatenate(
            [np.frombuffer(b, dtype=np.float64) for b in pdf["a2_cand"]]
        )

        def pct(cands: np.ndarray, q_pct: float) -> float:
            h_idx = (n - 1) * (q_pct / 100.0)
            lo = int(np.floor(h_idx))
            hi = min(lo + 1, n - 1)
            frac = h_idx - lo
            kth = [min(lo, len(cands) - 1), min(hi, len(cands) - 1)]
            part = np.partition(cands, kth)
            a_lo, a_hi = part[kth[0]], part[kth[1]]
            return float(a_lo + frac * (a_hi - a_lo))

        return pd.DataFrame(
            {
                "image_id": [pdf["image_id"].iloc[0]],
                "r2_p_lo": [pct(r2c, THRESHOLD_PCT)],
                "r2_p10": [pct(r2c, 10.0)],
                "a2_p_lo": [pct(a2c, THRESHOLD_PCT)],
            }
        )

    return fused_summaries.groupBy("image_id").applyInPandas(
        _merge,
        "image_id string, r2_p_lo double, r2_p10 double, a2_p_lo double",
    )


@dataclass
class GradientStageResult:
    pixel_flags: DataFrame   # (image_id, [img_idx,] y, x, label, new_spot, new_arc)
    on_arc_labels: DataFrame  # (image_id, label, p20_r2, on_arc)
    grad_clusters: DataFrame  # (image_id, newlabel, parent_label, med_azim, n_px)


def gradient_classify(
    px: DataFrame,
    lpx: DataFrame,
    label_table: DataFrame,
    controls: ImageControls,
    barrier_fn,
    sparse_hint=None,
    n_images: int | None = None,
) -> GradientStageResult:
    """The A10-A14 dataflow over labeled outlier pixels.

    ``px``: calib-joined pixels with base_mask; ``lpx``: labeled cluster
    pixels with (q, azim); ``label_table``: shape-classifier output with
    (area, diff_azim, diff_q, classifier).

    ``barrier_fn(df, label=...)`` materializes the fused kernel output;
    run_image_plan passes its eager-checkpoint barrier so the kernel
    provably runs ONCE — a lazy persist would let two consumer branches
    of the same job race the cache and compute the kernel twice (measured
    at 8 x 2880^2: two full shuffle+kernel stage pairs).

    ``sparse_hint`` (default identity) wraps the SPARSE side of joins —
    run_image_plan passes ``F.broadcast`` under its checkpoint barrier,
    where LogicalRDD stats are unknown to AQE.
    """
    shape = (controls.size_y, controls.size_x)
    if sparse_hint is None:
        sparse_hint = lambda df: df  # noqa: E731
    # ONE banded kernel pass emits only the labeled-pixel gradients plus
    # per-band percentile candidates (see fused_gradient_inputs) — the
    # dense gradient raster is never stored or Arrow-shipped. The fused
    # frame (~n_labeled + bands rows) is barriered so both consumers read
    # one materialization.
    fused = barrier_fn(
        fused_gradient_inputs(px, lpx, controls, n_images=n_images),
        label="grad_fused",
    )
    labeled_grads = fused.where(~F.col("is_summary")).select(
        "image_id", "y", "x", "grad_r2", "grad_a2"
    )
    # A12: per-image global thresholds — exact-percentile merge of the
    # per-band bottom-k candidates (bit-identical to np.percentile over
    # the dense frame; test-asserted).
    thresholds = barrier_fn(
        exact_percentiles_from_candidates(
            fused.where(F.col("is_summary")).select(
                "image_id", "n_core", "r2_cand", "a2_cand"
            )
        ),
        label="grad_thresholds",
    )

    lg = sparse_hint(lpx).join(labeled_grads, ["image_id", "y", "x"])

    # A10 + J2: per-label median Q broadcast back
    med_q = lg.groupBy("image_id", "label").agg(F.median("q").alias("med_q"))
    lg = lg.join(F.broadcast(med_q), ["image_id", "label"])

    # A11: central-band p20 of the 2nd radial gradient; on_arc if below the
    # image-global p10 (strong negative curvature = ridge, not noise)
    central = lg.where(F.abs(F.col("q") - F.col("med_q")) < CENTRAL_BAND_Q)
    p20 = central.groupBy("image_id", "label").agg(
        F.expr("percentile(grad_r2, 0.2)").alias("p20_r2")
    )
    on_arc = barrier_fn(
        p20.join(F.broadcast(thresholds.select("image_id", "r2_p10")), "image_id")
        .withColumn("on_arc", F.col("p20_r2") < F.col("r2_p10"))
        .select("image_id", "label", "p20_r2", "on_arc"),
        label="grad_on_arc",
    )  # tiny (one row per label); feeds mask, swaps, flags, caller

    # gradient mask: extreme 2nd azim derivative inside on_arc clusters
    grad_mask_px = (
        lg.join(
            F.broadcast(on_arc.where("on_arc").select("image_id", "label")),
            ["image_id", "label"],
        )
        .join(F.broadcast(thresholds.select("image_id", "a2_p_lo")), "image_id")
        .where(F.col("grad_a2") < F.col("a2_p_lo"))
        .select("image_id", "y", "x")
    )

    # M1 relabel the gradient mask -> gradient clusters
    relabeled = label_pixels(grad_mask_px, shape=shape, connectivity=2).withColumnRenamed(
        "label", "newlabel"
    )

    # A13: per-gradient-cluster circular azimuth median (via plain + flipped
    # axis, A7-style) and parent label
    gc = relabeled.join(
        lpx.select("image_id", "y", "x", "label", "azim", "azim_flip"),
        ["image_id", "y", "x"],
    )
    clusters, flagged = azimuth_swap_classify(gc, lpx, on_arc, label_table)
    return GradientStageResult(
        pixel_flags=flagged,
        on_arc_labels=on_arc,
        grad_clusters=clusters,
    )


def azimuth_swap_classify(
    gc: DataFrame,
    lpx: DataFrame,
    on_arc: DataFrame,
    label_table: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """A13 circular-median azimuth per gradient cluster + A14 swap decision
    (classification.py:566-606) as a standalone relational dataflow, so the
    driver's DuckDB oracle can exercise it on deterministic synthetic
    clusters (`a13_gradient_swap`) independent of the gradient kernel.

    Inputs: ``gc`` gradient-cluster member pixels (image_id, newlabel,
    label, azim, azim_flip); ``lpx`` labeled pixels (image_id, y, x, label,
    azim); ``on_arc`` (image_id, label, on_arc); ``label_table``
    (image_id, label, diff_q). Returns (clusters, pixel_flags); the flags
    keep lpx's ``img_idx`` when it has one (run_image_plan's lpx does).
    """
    clusters = gc.groupBy("image_id", "newlabel").agg(
        F.first("label").alias("parent_label"),
        F.median("azim").alias("med_azim"),
        F.median("azim_flip").alias("med_azim_flip"),
        F.count("*").alias("n_px"),
    )
    # pick the representation whose spread was narrower is overkill for a
    # median; re-wrap the flipped median back to the plain axis when the
    # plain median straddles the 0/360 seam (|med - wrapped(medflip)| large)
    clusters = clusters.withColumn(
        "med_azim",
        F.when(
            F.abs(F.pmod(F.col("med_azim_flip") - 180.0 + 360.0, F.lit(360.0)) - F.col("med_azim")) > 90.0,
            F.pmod(F.col("med_azim_flip") - 180.0 + 360.0, F.lit(360.0)),
        ).otherwise(F.col("med_azim")),
    ).drop("med_azim_flip")

    # A14 swap + final case-when (classification.py:575-606): the gradient
    # view (`on_arc`) is the arc authority — a spot merged into an arc
    # inflates the shape classifier's Q spread, which is exactly the case
    # this stage repairs. Pixels of an on_arc label within 5 x Qwidth
    # (circular) of a gradient cluster's azimuth are cut out as spots;
    # the remainder of the on_arc label is arc; everything else is spot.
    arc_parents = (
        on_arc.where("on_arc")
        .join(
            label_table.select("image_id", "label", "diff_q"),
            ["image_id", "label"],
        )
        .select("image_id", F.col("label").alias("parent_label"), "diff_q")
    )
    swaps = (
        clusters.join(F.broadcast(arc_parents), ["image_id", "parent_label"])
        .select(
            "image_id",
            "parent_label",
            "med_azim",
            (F.col("diff_q") * SWAP_RADIUS_QWIDTHS).alias("swap_radius"),
        )
    )
    pixel = [c for c in ("image_id", "img_idx", "y", "x") if c in lpx.columns]
    flagged = (
        lpx.join(
            F.broadcast(on_arc.select("image_id", "label", "on_arc")),
            ["image_id", "label"],
            "left",
        )
        .fillna({"on_arc": False})
        .join(
            F.broadcast(swaps.withColumnRenamed("parent_label", "label")),
            ["image_id", "label"],
            "left",
        )
        .withColumn(
            "near_cut",
            F.coalesce(
                in_circular_range(F.col("azim"), F.col("med_azim"), F.col("swap_radius")),
                F.lit(False),
            ),
        )
        .groupBy(*pixel, "label", "on_arc")
        .agg(F.max(F.col("near_cut").cast("int")).alias("near_cut"))
        .withColumn(
            "new_spot", ~F.col("on_arc") | (F.col("near_cut") == 1)
        )
        .withColumn(
            "new_arc", F.col("on_arc") & (F.col("near_cut") == 0)
        )
        .select(*pixel, "label", "new_spot", "new_arc")
    )
    return clusters, flagged
