"""Gradient classification stage (SURVEY §2.9): spot-in-arc repair.

Fixture: a bright Gaussian spot planted ON a texture arc so their outlier
clusters merge. The merged cluster's Q spread fails the shape classifier's
arc test (it reads as one big spot) — the gradient stage must recognize
the arc via the central-band 2nd-radial-derivative criterion (`on_arc`)
and cut the spot region back out by azimuth proximity to the
azim-gradient cluster (A10-A14, classification.py:447-608).
"""

from __future__ import annotations

import numpy as np
import pytest

from xrddatapipeline_spark.calib.geometry import compute_maps_numpy
from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
from tests.fixtures_images import CONTROLS, images_long_df, make_image

SPOT_AZIM = 57.0
SPOT_TTH = 9.5  # on the 40-75 deg arc


@pytest.fixture(scope="module")
def grad_result(spark):
    c = CONTROLS
    img = make_image(c, seq=0)
    maps = compute_maps_numpy(c)
    tgt = np.argmin(
        np.abs(maps["tth"] - SPOT_TTH) * 10 + np.abs(maps["azim"] - SPOT_AZIM)
    )
    ty, tx = np.unravel_index(tgt, maps["tth"].shape)
    ys, xs = np.mgrid[0 : c.size_y, 0 : c.size_x]
    img = img + (
        90000.0 * np.exp(-(((ys - ty) ** 2 + (xs - tx) ** 2)) / (2 * 3.0 ** 2))
    ).astype(np.int32)
    pixels = images_long_df(spark, [("synth", 0, img)])
    res = run_image_plan(pixels, c, gradient_stage=True)
    lp = res.labeled_pixels.toPandas()
    lt = res.label_table.toPandas()
    fl = res.gradient.pixel_flags.toPandas()
    oa = res.gradient.on_arc_labels.toPandas()
    gc = res.gradient.grad_clusters.toPandas()
    merged_label = int(lp.set_index(["y", "x"]).loc[(ty, tx)].label)
    return dict(lp=lp, lt=lt, fl=fl, oa=oa, gc=gc, merged=merged_label, res=res)


def test_merged_cluster_fails_shape_but_flags_on_arc(grad_result):
    r = grad_result
    row = r["lt"][r["lt"].label == r["merged"]].iloc[0]
    # the spot halo inflates the Q spread past the arc threshold
    assert row.classifier == 1 and row.diff_q > 0.1
    # ... but the gradient view recognizes the arc ridge
    oa_row = r["oa"][r["oa"].label == r["merged"]].iloc[0]
    assert bool(oa_row.on_arc)
    assert oa_row.p20_r2 < 0  # strong negative central-band curvature


def test_gradient_cluster_found_at_planted_azimuth(grad_result):
    r = grad_result
    mine = r["gc"][r["gc"].parent_label == r["merged"]]
    assert len(mine) >= 1
    best = mine.sort_values("n_px").iloc[-1]
    assert abs(best.med_azim - SPOT_AZIM) < 3.0


def test_spot_cut_out_of_arc(grad_result):
    r = grad_result
    sub = r["fl"][r["fl"].label == r["merged"]]
    cut = sub[sub.new_spot]
    kept = sub[sub.new_arc]
    assert len(cut) > 0 and len(kept) > 0
    az = r["lp"][r["lp"].label == r["merged"]].set_index(["y", "x"]).azim
    cut_az = np.array([az.loc[(t.y, t.x)] for t in cut.itertuples()])
    kept_az = np.array([az.loc[(t.y, t.x)] for t in kept.itertuples()])
    # the cut region brackets the planted azimuth; kept arc pixels lie outside
    assert cut_az.min() < SPOT_AZIM < cut_az.max()
    assert cut_az.max() - cut_az.min() < 20.0  # a sector, not the whole arc
    near = np.abs(kept_az - SPOT_AZIM) < 1.0
    assert near.sum() == 0


def test_flags_partition_labeled_pixels(grad_result):
    r = grad_result
    flags = r["res"].gradient.pixel_flags
    assert flags.where("new_spot = new_arc").count() == 0
    assert flags.count() == r["res"].labeled_pixels.select("y", "x").count()


def test_plain_arcs_kept_whole(grad_result):
    """The uncontaminated arcs produce no (or tiny) cuts."""
    r = grad_result
    arcs = set(r["oa"][r["oa"].on_arc].label) - {r["merged"]}
    if not arcs:
        pytest.skip("all arcs merged in this fixture")
    sub = r["fl"][r["fl"].label.isin(arcs)]
    # at most a small fraction of an untouched arc flips
    assert (sub.new_spot.sum() / len(sub)) < 0.5


def test_banded_second_gradients_exact(spark):
    """Ghost-row band tiling is exact: tiny band_rows (many bands with
    4-row halos) must reproduce the single-group kernel bit-for-bit."""
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.plans.gradient_stage import second_gradients
    from xrddatapipeline_spark.plans.image_pipeline import (
        with_base_mask,
    )

    c = CONTROLS
    pixels = images_long_df(spark, [("synth", 0, make_image(c, seq=0))])
    px = with_base_mask(with_calib_columns(pixels, c))

    whole = (
        second_gradients(px, c, band_rows=c.size_y)
        .toPandas().sort_values(["y", "x"]).reset_index(drop=True)
    )
    banded = (
        second_gradients(px, c, band_rows=16)
        .toPandas().sort_values(["y", "x"]).reset_index(drop=True)
    )
    assert len(whole) == len(banded) == c.size_y * c.size_x
    assert (whole["y"] == banded["y"]).all() and (whole["x"] == banded["x"]).all()
    assert np.array_equal(
        whole["grad_r2"].to_numpy(), banded["grad_r2"].to_numpy()
    )
    assert np.array_equal(
        whole["grad_a2"].to_numpy(), banded["grad_a2"].to_numpy()
    )


def test_fused_thresholds_bit_equal_dense_percentiles(spark):
    """The per-band bottom-k candidate merge must reproduce np.percentile
    over the dense gradient frame bit-for-bit (many small bands)."""
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.plans.gradient_stage import (
        THRESHOLD_PCT,
        exact_percentiles_from_candidates,
        fused_gradient_inputs,
        second_gradients,
    )
    from xrddatapipeline_spark.plans.image_pipeline import (
        classify_clusters,
        closed_outlier_pixels,
        outlier_pixels,
        with_base_mask,
        with_img_idx,
    )

    c = CONTROLS
    pixels = images_long_df(spark, [("synth", 0, make_image(c, seq=0))])
    px = with_img_idx(
        with_base_mask(with_calib_columns(pixels, c))
    ).cache()
    om = closed_outlier_pixels(outlier_pixels(px, c.esd_mul), (c.size_y, c.size_x))
    lpx, _ = classify_clusters(px, om, (c.size_y, c.size_x))

    dense = second_gradients(px, c, band_rows=c.size_y).toPandas()
    want = {
        "r2_p_lo": np.percentile(dense["grad_r2"], THRESHOLD_PCT),
        "r2_p10": np.percentile(dense["grad_r2"], 10.0),
        "a2_p_lo": np.percentile(dense["grad_a2"], THRESHOLD_PCT),
    }

    fused = fused_gradient_inputs(px, lpx, c, band_rows=16).cache()
    got = exact_percentiles_from_candidates(
        fused.where("is_summary").select("image_id", "n_core", "r2_cand", "a2_cand")
    ).toPandas().iloc[0]
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)

    # labeled-pixel gradients match the dense frame exactly too
    lab = (
        fused.where("not is_summary")
        .select("y", "x", "grad_r2", "grad_a2")
        .toPandas().sort_values(["y", "x"]).reset_index(drop=True)
    )
    dense_idx = dense.set_index(["y", "x"])
    lp = lpx.select("y", "x").toPandas().sort_values(["y", "x"])
    assert len(lab) == len(lp) > 0
    sel = dense_idx.loc[list(zip(lab["y"], lab["x"]))]
    assert np.array_equal(lab["grad_r2"].to_numpy(), sel["grad_r2"].to_numpy())
    assert np.array_equal(lab["grad_a2"].to_numpy(), sel["grad_a2"].to_numpy())


def test_fused_thresholds_survive_fully_masked_band(spark):
    """A dead detector module that base-masks an entire halo'd band must not
    drop that band's summary row (the .where(~base_mask) feed would lose the
    cogroup group entirely without the per-band sentinel): n_core must still
    sum to h*w and the thresholds must stay bit-identical to np.percentile
    over the dense route, whose unpaintable interior is 0.0 by spec."""
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.plans.gradient_stage import (
        THRESHOLD_PCT,
        exact_percentiles_from_candidates,
        fused_gradient_inputs,
        second_gradients,
    )
    from xrddatapipeline_spark.plans.image_pipeline import (
        classify_clusters,
        closed_outlier_pixels,
        outlier_pixels,
        with_base_mask,
        with_img_idx,
    )
    from pyspark.sql import functions as F

    c = CONTROLS
    pixels = images_long_df(spark, [("synth", 0, make_image(c, seq=0))])
    # band_rows=32 -> 8 bands; mask band 5 (y 160-191) PLUS its 4-row halo
    # on both sides, so the halo'd slices of band 5 contain zero good pixels
    px = with_base_mask(with_calib_columns(pixels, c))
    px = with_img_idx(px.withColumn(
        "base_mask",
        F.col("base_mask") | F.col("y").between(160 - 4, 191 + 4),
    )).cache()
    om = closed_outlier_pixels(outlier_pixels(px, c.esd_mul), (c.size_y, c.size_x))
    lpx, _ = classify_clusters(px, om, (c.size_y, c.size_x))

    dense = second_gradients(px, c, band_rows=c.size_y).toPandas()
    assert len(dense) == c.size_y * c.size_x
    want = {
        "r2_p_lo": np.percentile(dense["grad_r2"], THRESHOLD_PCT),
        "r2_p10": np.percentile(dense["grad_r2"], 10.0),
        "a2_p_lo": np.percentile(dense["grad_a2"], THRESHOLD_PCT),
    }

    fused = fused_gradient_inputs(px, lpx, c, band_rows=32).cache()
    summaries = fused.where("is_summary").toPandas()
    assert len(summaries) == 8  # one per band, incl. the fully-masked one
    assert summaries["n_core"].sum() == c.size_y * c.size_x
    got = exact_percentiles_from_candidates(
        fused.where("is_summary").select("image_id", "n_core", "r2_cand", "a2_cand")
    ).toPandas().iloc[0]
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)


def test_gradient_float32_chain_close_to_float64(spark):
    """Round-12 A/B (verdict Next #6): integer intensities route the
    band kernel through a float32 chain (measured 2.3x per band-chain,
    half the scratch bandwidth). Unlike the h-maxima kernel the chain is
    NOT provably exact (unit-vector projections + inpaint divisions
    round), so pin the justified tolerance instead: casting the same
    pixels' intensity to DOUBLE forces the float64 route, and the two
    gradient frames must agree to ~float32 resolution relative to the
    per-image gradient scale. Also pins the gate itself: int -> f32,
    float -> f64 (via the dtype decision being value-independent, the
    routes are internally consistent — the bit-equality tests above run
    entirely inside one chain)."""
    from pyspark.sql import functions as F
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.plans.gradient_stage import (
        _grad_dtype,
        second_gradients,
    )
    from xrddatapipeline_spark.plans.image_pipeline import (
        with_base_mask,
    )

    assert _grad_dtype(np.array([1, 2], dtype=np.int32)) == np.float32
    assert _grad_dtype(np.array([1.0, 2.0])) == np.float64

    c = CONTROLS
    pixels = images_long_df(spark, [("synth", 0, make_image(c, seq=0))])
    px = with_base_mask(with_calib_columns(pixels, c)).cache()
    f32 = (
        second_gradients(px, c, band_rows=64)
        .toPandas().sort_values(["y", "x"]).reset_index(drop=True)
    )
    px64 = px.withColumn("intensity", F.col("intensity").cast("double"))
    f64 = (
        second_gradients(px64, c, band_rows=64)
        .toPandas().sort_values(["y", "x"]).reset_index(drop=True)
    )
    assert len(f32) == len(f64) == c.size_y * c.size_x
    for col in ("grad_r2", "grad_a2"):
        a, b = f32[col].to_numpy(), f64[col].to_numpy()
        scale = np.abs(b).max()
        # float32 has ~1.2e-7 relative resolution; the 3-conv chain
        # compounds a few ulps — 1e-5 of the gradient scale is ~100x
        # headroom while still catching any dtype-mixing bug cold
        assert np.abs(a - b).max() <= 1e-5 * scale, col
