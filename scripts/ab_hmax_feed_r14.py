#!/usr/bin/env python
"""Round-14 A/B: h-maxima kernel feed — ship qbin per pixel vs re-attach
it to the sparse maxima JVM-side (recompute_qbin) under closed-form
calibration. Genuine keep-up px frame (8 x 2880^2), alternating reps.

Usage: python scripts/ab_hmax_feed_r14.py [reps=3]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xrddatapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(
        app_name="xrdspark-ab-hmax-feed",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    import bench as B
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.image_pipeline import (
        h_maxima_per_qbin,
        join_calib,
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
    masked = with_base_mask(
        join_calib(pixels, None, controls=c), controls=c
    )
    px = masked.drop(*[col for col in drop if col in masked.columns])
    px = px.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    print("px rows:", px.count(), flush=True)
    spot = (
        px.where(F.col("intensity") > 3000)
        .select("image_id", "y", "x")
        .localCheckpoint(eager=True)
    )
    print("spot rows:", spot.count(), flush=True)

    def once(slim: bool):
        spark.sparkContext.setJobDescription(
            f"hmax-feed:{'slim' if slim else 'ship'}"
        )
        t0 = time.perf_counter()
        hm = h_maxima_per_qbin(
            px, F.broadcast(spot), c, n_images=batch, recompute_qbin=slim
        )
        hm.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    walls = {True: [], False: []}
    once(True)  # warm the python worker pool + kernel scratch once
    for r in range(reps):
        for slim in (True, False):
            el = once(slim)
            walls[slim].append(round(el, 2))
            print(f"rep{r} {'slim' if slim else 'ship'} {el:6.2f}s", flush=True)
    for slim in (True, False):
        xs = sorted(walls[slim])
        print(f"{'slim' if slim else 'ship'} min={xs[0]} med={xs[len(xs)//2]} all={walls[slim]}")


if __name__ == "__main__":
    main()
