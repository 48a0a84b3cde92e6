"""Read-back layer (§3.3): contour stack, diff integrals, histograms."""

from __future__ import annotations

import numpy as np
import pytest

from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
from xrddatapipeline_spark.plans.readback import (
    contour_matrix,
    diff_integrals,
    spot_count_histogram,
)
from tests.fixtures_images import CONTROLS, images_long_df, make_image


@pytest.fixture(scope="module")
def outputs(spark):
    imgs = [("synth", s, make_image(CONTROLS, seq=s)) for s in range(4)]
    pixels = images_long_df(spark, imgs)
    res = run_image_plan(pixels, CONTROLS)
    return res.integrals.cache(), res.spot_stats.cache()


def test_contour_matrix_orders_and_stacks(outputs):
    integrals, _ = outputs
    m = contour_matrix(integrals, kind="base", max_lines=128).toPandas()
    assert list(m.seq) == [0, 1, 2, 3]
    lens = {len(v) for v in m.intensities}
    assert len(lens) == 1  # rectangular matrix
    # drift: total intensity decreases with seq (fixture dims over time)
    sums = [float(np.sum(v)) for v in m.intensities]
    assert sums[0] > sums[-1]


def test_contour_stride_downsamples(outputs):
    integrals, _ = outputs
    m = contour_matrix(integrals, kind="base", max_lines=1).toPandas()
    # k doubles 1->2->4: keeps every 4th of 4 images = 1 line
    assert list(m.seq) == [0]


def test_contour_range_slice(outputs):
    integrals, _ = outputs
    m = contour_matrix(integrals, kind="base", seq_min=1, seq_max=2).toPandas()
    assert list(m.seq) == [1, 2]


def test_diff_integrals_nonnegative_on_spot_bins(outputs):
    integrals, _ = outputs
    d = diff_integrals(integrals).toPandas()
    assert {"base", "om", "diff_spots", "diff_arcs"} <= set(d.columns)
    # masking spots can only remove intensity from the mean at spot bins;
    # the largest diffs must be positive (the planted spots)
    assert d.diff_spots.max() > 0
    assert d.diff_arcs.max() > 0
    # sqrt display transform preserves sign and monotonicity
    ds = diff_integrals(integrals, sqrt_display=True).toPandas()
    both = d.merge(ds, on=["image_id", "tth_idx"], suffixes=("", "_s"))
    sel = both.dropna(subset=["diff_spots", "diff_spots_s"])
    np.testing.assert_allclose(
        np.sign(sel.diff_spots), np.sign(sel.diff_spots_s), atol=0
    )


def test_spot_histogram(outputs):
    _, stats = outputs
    h = spot_count_histogram(stats).toPandas()
    assert (h.n_spots > 0).all()
    # every image has spots in some bin
    assert h.image_id.nunique() == 4
