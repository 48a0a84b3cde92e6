#!/usr/bin/env python
"""Round-15 A/B: grouped kernels consuming pyarrow Tables (applyInArrow)
vs pandas DataFrames (applyInPandas) — h-maxima on the genuine 8 x 2880^2
frame, alternating reps, REST run/cpu attribution. The pandas variant is
the pre-r15 formulation inlined; the arrow variant is the shipped
h_maxima_per_qbin.

Usage: python scripts/ab_arrow_r15.py [reps=4]
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xrddatapipeline_spark.session import get_spark  # noqa: E402


def pandas_hmax(px, spot_px, controls, n_images):
    """Pre-r15 h_maxima_per_qbin (qbin re-attached to the maxima), inlined."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.operators import kernels
    from xrddatapipeline_spark.plans.image_pipeline import hmax_float32_exact

    h, w = controls.size_y, controls.size_x
    src = px.select(
        "image_id",
        (
            F.shiftleft(F.col("y").cast("long") * 8192 + F.col("x"), 32)
            + (F.col("intensity").cast("long") + F.lit(2**31))
        ).alias("p"),
    )
    if n_images and 0 < 4 * n_images <= 4096:
        src = src.repartition(4 * n_images, "image_id")

    def _maxima(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["p"].to_numpy()
        inten = (v & 0xFFFFFFFF) - 2**31
        yx = v >> 32
        ys = yx // 8192
        xs = yx - ys * 8192
        hval = float(int(0.05 * float(np.percentile(inten, 99.9))))
        use32 = hmax_float32_exact(inten, hval)
        img = kernels.scratch(
            (h, w), "hmax_img", dtype=np.float32 if use32 else np.float64
        )
        img[:] = 0.0
        img[ys, xs] = inten
        is_max = kernels.h_maxima(img, hval)
        sel = is_max[ys, xs]
        return pd.DataFrame(
            {
                "image_id": pdf["image_id"].to_numpy()[sel],
                "y": ys[sel].astype("int32"),
                "x": xs[sel].astype("int32"),
            }
        )

    maxima = src.groupBy("image_id").applyInPandas(
        _maxima, "image_id string, y int, x int"
    )
    maxima = with_calib_columns(maxima, controls).select(
        "image_id", "y", "x", "qbin"
    )
    flagged = maxima.join(
        spot_px.withColumn("is_spot_px", F.lit(True)),
        ["image_id", "y", "x"],
        "left",
    ).fillna({"is_spot_px": False})
    return flagged.where(F.col("qbin") >= 0).groupBy("image_id", "qbin").agg(
        F.count("*").alias("n_maxima"),
        F.sum(F.col("is_spot_px").cast("int")).alias("n_spot_maxima"),
    )


def main() -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(
        app_name="xrdspark-ab-arrow",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.retainedStages": "8000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench as B
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.image_pipeline import (
        h_maxima_per_qbin,
        with_base_mask,
    )

    size, batch = 2880, 8
    c = ImageControls(
        wavelength=0.24087, distance=size / 3.0,
        center_x=size * 150.0 / 2000.0, center_y=size * 150.0 / 2000.0,
        pixel_size_x=150.0, pixel_size_y=150.0,
        size_x=size, size_y=size, iotth=(1.0, 12.7),
        out_channels=2500, num_chans_om=500, pola_val=0.99,
        esd_mul=3.0, dataset="bench",
    )
    pixels = B._synthetic_pixels(spark, c, n_images=batch).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pixels.count()
    drop = ["tth", "azim_band", "azim_mask", "dataset", "seq", "q", "azim"]
    masked = with_base_mask(with_calib_columns(pixels, c), controls=c)
    px = masked.drop(*[col for col in drop if col in masked.columns])
    px = px.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    print("px rows:", px.count(), flush=True)
    spot = (
        px.where(F.col("intensity") > 3000)
        .select("image_id", "y", "x")
        .localCheckpoint(eager=True)
    )
    spot.count()

    def _rest(path):
        import urllib.request
        with urllib.request.urlopen(
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}/{path}", timeout=60,
        ) as r:
            return json.load(r)

    def _done():
        return {(s["stageId"], s["attemptId"]): s
                for s in _rest("stages?status=complete")}

    variants = {
        "arrow": lambda: h_maxima_per_qbin(
            px, F.broadcast(spot), c, n_images=batch
        ),
        "pandas": lambda: pandas_hmax(px, F.broadcast(spot), c, batch),
    }

    # result parity first
    a = sorted(variants["arrow"]().collect())
    b = sorted(variants["pandas"]().collect())
    assert a == b, "variant results differ!"
    print(f"parity OK ({len(a)} rows)", flush=True)

    def once(name):
        before = _done()
        spark.sparkContext.setJobDescription(f"hmax:{name}")
        t0 = time.perf_counter()
        variants[name]().write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        time.sleep(1.0)
        new = [s for k, s in _done().items() if k not in before]
        run = sum(s.get("executorRunTime", 0) for s in new) / 1000
        cpu = sum(s.get("executorCpuTime", 0) for s in new) / 1e9
        return wall, run, cpu

    recs = {k: [] for k in variants}
    for rep in range(reps):
        order = ["arrow", "pandas"] if rep % 2 == 0 else ["pandas", "arrow"]
        for name in order:
            wall, run, cpu = once(name)
            recs[name].append((wall, run, cpu))
            print(
                f"rep{rep} {name:6s} wall={wall:6.1f} run={run:7.1f} "
                f"cpu={cpu:7.1f}",
                flush=True,
            )
    for name, rs in recs.items():
        runs = sorted(r[1] for r in rs)
        walls = sorted(r[0] for r in rs)
        print(
            f"== {name}: run med={statistics.median(runs):.1f} "
            f"min={runs[0]:.1f} wall med={statistics.median(walls):.1f}"
        )


if __name__ == "__main__":
    main()
