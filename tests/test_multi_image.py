"""Multi-image batches: per-image isolation.

The 100 TB execution model processes many images per batch; every
aggregation and kernel groups on image_id. This test proves a multi-image
batch produces byte-identical per-image outputs to single-image runs (no
cross-image leakage through kernels, ring stats, or integrals).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
from tests.fixtures_images import CONTROLS, images_long_df, make_image


def _base_integrals(res) -> pd.DataFrame:
    return (
        res.integrals.where("kind = 'base'")
        .select("image_id", "tth_idx", "intensity")
        .toPandas()
        .sort_values(["image_id", "tth_idx"])
        .reset_index(drop=True)
    )


def test_multi_image_batch_equals_single_runs(spark):
    imgs = [("a", 0, make_image(CONTROLS, seq=0)),
            ("a", 1, make_image(CONTROLS, seq=1)),
            ("b", 0, make_image(CONTROLS, seq=5))]
    batch = run_image_plan(images_long_df(spark, imgs), CONTROLS)
    got = _base_integrals(batch)
    outliers_batch = batch.outliers.toPandas()

    singles = []
    outliers_single = []
    for ds, seq, img in imgs:
        res = run_image_plan(images_long_df(spark, [(ds, seq, img)]), CONTROLS)
        singles.append(_base_integrals(res))
        outliers_single.append(res.outliers.toPandas())
    want = pd.concat(singles).sort_values(["image_id", "tth_idx"]).reset_index(drop=True)
    np.testing.assert_array_equal(got.image_id, want.image_id)
    # integral sums accumulate in partition order -> last-ulp variation
    np.testing.assert_allclose(got.intensity, want.intensity, rtol=1e-12)

    # outlier pixel sets identical per image (ring stats never leak)
    got_sets = {
        k: set(zip(v.y, v.x)) for k, v in outliers_batch.groupby("image_id")
    }
    for single in outliers_single:
        k = single.image_id.iloc[0]
        assert got_sets[k] == set(zip(single.y, single.x))

