"""P7 correction-image chain vs the _getCorrImage numpy oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from xrddatapipeline_spark.operators.corrections import (
    apply_correction_images,
    correction_chain_numpy,
)

H, W = 24, 32


def _img(seed, lo=0, hi=5000, dtype="int32"):
    rng = np.random.default_rng(seed)
    return rng.uniform(lo, hi, size=(H, W)).astype(dtype)


def _pixels_df(spark, img):
    ys, xs = np.mgrid[0:H, 0:W]
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": "img-0",
                "y": ys.ravel().astype("int32"),
                "x": xs.ravel().astype("int32"),
                "intensity": img.ravel(),
            }
        )
    )


def _corr_df(spark, arr, name):
    ys, xs = np.mgrid[0:H, 0:W]
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "y": ys.ravel().astype("int32"),
                "x": xs.ravel().astype("int32"),
                name: arr.ravel(),
            }
        )
    )


CASES = [
    ("dark_only", dict(dark_scale=-0.8), ("dark",)),
    ("background_only", dict(back_scale=-1.2), ("background",)),
    # reference quirk: dark present => background ignored
    ("dark_and_background", dict(dark_scale=-0.5, back_scale=2.0),
     ("dark", "background")),
    ("gain_only", dict(), ("gain",)),
    ("flat_only", dict(flat_bkg=37.9), ()),
    ("full_chain", dict(dark_scale=-0.6, back_scale=3.0, flat_bkg=12.0),
     ("dark", "background", "gain")),
]


@pytest.mark.parametrize("name,scales,frames", CASES,
                         ids=[c[0] for c in CASES])
def test_correction_chain_matches_numpy(spark, name, scales, frames):
    img = _img(1)
    dark = _img(2, 0, 300, "float64") if "dark" in frames else None
    back = _img(3, 0, 200, "float64") if "background" in frames else None
    gain = _img(4, 900, 1100, "int32") if "gain" in frames else None

    want = correction_chain_numpy(
        img, dark=dark, background=back, gain=gain, **scales
    )

    px = _pixels_df(spark, img)
    got = apply_correction_images(
        px,
        dark=_corr_df(spark, dark, "dark") if dark is not None else None,
        background=_corr_df(spark, back, "back") if back is not None else None,
        gain=_corr_df(spark, gain, "gain") if gain is not None else None,
        **scales,
    ).toPandas().sort_values(["y", "x"])
    np.testing.assert_array_equal(
        got["intensity"].to_numpy().reshape(H, W), want
    )
    # schema: intensity stays int32, passthrough columns intact
    assert str(got["intensity"].dtype) == "int32"
    assert set(got.columns) == {"image_id", "y", "x", "intensity"}


def test_missing_correction_pixels_are_identity(spark):
    img = _img(5)
    dark = _img(6, 0, 100, "float64")
    # drop half the dark pixels: those pixels get no dark term
    px = _pixels_df(spark, img)
    dark_df = _corr_df(spark, dark, "dark").where("x < 16")
    got = (
        apply_correction_images(px, dark=dark_df, dark_scale=-1.0)
        .toPandas().sort_values(["y", "x"])
    )
    want = correction_chain_numpy(img, dark=dark, dark_scale=-1.0)
    want[:, 16:] = img[:, 16:]
    np.testing.assert_array_equal(
        got["intensity"].to_numpy().reshape(H, W), want
    )


def test_corrections_inside_image_plan(spark):
    """The chain composes with the full image plan (with_base_mask sees
    corrected intensities: a big negative dark scale masks everything)."""
    from tests.fixtures_images import CONTROLS, images_long_df, make_image
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan

    px = images_long_df(spark, [("synth", 1, make_image(CONTROLS, seq=1))])
    flat = px.selectExpr("y", "x").distinct().selectExpr(
        "y", "x", "100000.0 AS dark"
    )
    res = run_image_plan(
        px, CONTROLS,
        corrections=dict(dark=flat, dark_scale=-1.0),
    )
    base = res.pixels.toPandas()
    assert base["base_mask"].all()  # everything driven <= 0 by the dark


def test_correction_plan_broadcasts(spark):
    """Correction joins must broadcast the correction side — the dense
    pixel frame stays unshuffled."""
    img = _img(7)
    px = _pixels_df(spark, img)
    plan = apply_correction_images(
        px, dark=_corr_df(spark, _img(8, 0, 9, "float64"), "dark")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
