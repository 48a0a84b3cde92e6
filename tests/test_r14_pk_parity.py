"""Packed-key parity pins: the single-long join/group keys of the dense
stages (``_pk_expr`` — (img_idx << 26) | y*8192+x for pixel probes,
(img_idx << 32) | ring_idx for ring stats) must produce EXACTLY the rows
of the (image_id, y, x) / (image_id, ring_idx) formulations, which live
here as the reference. Multi-image fixture so the image-index bits are
actually exercised, plus boundary pixels (y = x = size-1) via the dense
detector grid."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.fixtures_images import CONTROLS, images_long_df, make_image
from xrddatapipeline_spark.calib.cache import with_calib_columns
from xrddatapipeline_spark.operators.raster import close_and_label_pixels
from xrddatapipeline_spark.operators.ring_stats import flag_outliers
from xrddatapipeline_spark.plans.image_pipeline import (
    integrate_and_spottiness,
    labeled_pixels_frame,
    outlier_pixels,
    with_base_mask,
    with_img_idx,
)

SHAPE = (CONTROLS.size_y, CONTROLS.size_x)
PIXEL = ["image_id", "y", "x"]


@pytest.fixture(scope="module")
def px2(spark):
    """Two-image calibrated, base-masked dense pixel frame with img_idx."""
    pixels = images_long_df(
        spark,
        [
            ("synth", 0, make_image(CONTROLS, seq=0)),
            ("synth", 1, make_image(CONTROLS, seq=1)),
        ],
    )
    px = with_img_idx(
        with_base_mask(with_calib_columns(pixels, CONTROLS), controls=CONTROLS)
    ).persist()
    px.count()
    return px


@pytest.fixture(scope="module")
def outliers2(px2):
    return outlier_pixels(px2, esd_mul=CONTROLS.esd_mul).localCheckpoint()


def _sorted(df, keys):
    return (
        df.toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
        .reindex(sorted(df.columns), axis=1)
    )


def _reference_lpx(px, outliers, probe_cols, recompute):
    """labeled_pixels_frame's former 3-column formulation."""
    labeled = close_and_label_pixels(
        outliers.select(*PIXEL), shape=SHAPE, radius=1, connectivity=2
    )
    lpx = F.broadcast(labeled).join(px.select(*PIXEL, *probe_cols), PIXEL)
    if recompute:
        lpx = with_calib_columns(lpx, CONTROLS)
    return lpx.select(
        *PIXEL, "label", "q", "azim", "intensity", "qbin",
        F.pmod(F.col("azim") + 180.0, F.lit(360.0)).alias("azim_flip"),
    )


def test_outlier_pixels_packed_key_parity(px2, outliers2):
    candidates = px2.where(~F.col("base_mask") & (F.col("ring_idx") > 0))
    legacy = _sorted(
        flag_outliers(
            candidates.select(*PIXEL, "ring_idx", "intensity"),
            keys=["image_id", "ring_idx"],
            value="intensity",
            esd_mul=CONTROLS.esd_mul,
            min_count=10,
            histogram=True,
        ).where(F.col("is_outlier")).select(*PIXEL),
        PIXEL,
    )
    packed = _sorted(outliers2.select(*PIXEL), PIXEL)
    assert len(legacy) > 0
    assert set(legacy["image_id"]) == {"synth-00000", "synth-00001"}
    pd.testing.assert_frame_equal(legacy, packed, check_exact=True)


def test_labeled_pixels_frame_packed_key_parity(px2, outliers2):
    # closed-form branch (controls given: intensity probe + trig recompute)
    legacy = _sorted(
        _reference_lpx(px2, outliers2, ["intensity"], recompute=True), PIXEL
    )
    packed = _sorted(
        labeled_pixels_frame(
            px2, outliers2, SHAPE, sparse_hint=F.broadcast,
            controls=CONTROLS, closing_radius=1,
        ).drop("img_idx"),
        PIXEL,
    )
    assert len(legacy) > 0
    pd.testing.assert_frame_equal(legacy, packed, check_exact=True)
    # controls=None branch (q/azim/qbin read off px, as classify_clusters
    # and the driver queries do)
    legacy7 = _sorted(
        _reference_lpx(
            px2, outliers2, ["q", "azim", "intensity", "qbin"],
            recompute=False,
        ),
        PIXEL,
    )
    packed7 = _sorted(
        labeled_pixels_frame(
            px2, outliers2, SHAPE, sparse_hint=F.broadcast, closing_radius=1,
        ).drop("img_idx"),
        PIXEL,
    )
    pd.testing.assert_frame_equal(legacy7, packed7, check_exact=True)
    # the two probe branches agree with each other too (bit-identical trig)
    pd.testing.assert_frame_equal(legacy, legacy7, check_exact=True)


def test_integrate_and_spottiness_packed_key_parity(px2, outliers2):
    lpx = labeled_pixels_frame(
        px2, outliers2, SHAPE, sparse_hint=F.broadcast,
        controls=CONTROLS, closing_radius=1,
    ).localCheckpoint()
    flags = lpx.select(
        *PIXEL, "img_idx",
        F.lit(True).alias("is_om"),
        (F.pmod(F.col("x"), F.lit(2)) == 0).alias("is_spot_px"),
        (F.pmod(F.col("x"), F.lit(2)) == 1).alias("is_arc_px"),
    ).localCheckpoint()
    # integrate_and_spottiness's former (image_id, y, x) left join
    value = F.col("intensity") / F.col("pol") * F.pow(F.col("dist_sq"), 1.5)
    flagged = (
        px2.join(F.broadcast(flags.drop("img_idx")), PIXEL, "left")
        .fillna({"is_om": False, "is_spot_px": False, "is_arc_px": False})
        .withColumn("_v", value)
    )
    aggs = []
    for kind, flag in (
        ("base", None), ("om", "is_om"),
        ("spotsmasked", "is_spot_px"), ("arcsmasked", "is_arc_px"),
    ):
        mask = F.col("base_mask") | (F.col(flag) if flag else F.lit(False))
        aggs.append(F.sum(F.when(~mask, F.col("_v"))).alias(f"sum_{kind}"))
        aggs.append(F.count(F.when(~mask, F.lit(1))).alias(f"n_{kind}"))
    aggs.append(F.count(F.lit(1)).alias("n_total"))
    aggs.append(F.sum(F.col("is_om").cast("int")).alias("n_masked"))
    keys = ["image_id", "tth_idx", "qbin"]
    legacy = _sorted(flagged.groupBy(*keys).agg(*aggs), keys)
    packed = _sorted(
        integrate_and_spottiness(px2, flags, CONTROLS,
                                 sparse_hint=F.broadcast),
        keys,
    )
    assert len(legacy) > 0
    assert legacy["n_masked"].sum() > 0
    pd.testing.assert_frame_equal(legacy, packed, check_exact=True)
