#!/usr/bin/env python
"""Round-15 probe: barrier:grad_fused bimodality (r14 verdict #2 — clean
batches read 78-95 run core-s in most reps, 344-881 in some, at px canary
1.0). Runs the fused band-gradient kernel over the genuine 8 x 2880^2
frame repeatedly, with the round-15 kernel-side fixed-work canary
(XRDSPARK_KERNEL_TIMING=1 -> KT lines on stderr: canary/unpack/conv/emit
per band call) and REST run/cpu per rep, in two modes:

  iso     — the fused kernel materialization alone, N reps
  batch   — the kernel concurrent with the other big batch jobs (csim
            window + h-maxima), emulating one_batch's overlap, N reps

Usage: python scripts/probe_grad_r15.py [reps=6] [mode=both] 2>kt.log
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("XRDSPARK_KERNEL_TIMING", "1")

from xrddatapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    mode = sys.argv[2] if len(sys.argv) > 2 else "both"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(
        app_name="xrdspark-probe-grad",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "8000",
            "spark.scheduler.mode": "FAIR",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench as B
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.gradient_stage import (
        fused_gradient_inputs,
    )
    from xrddatapipeline_spark.plans.image_pipeline import (
        cosine_similarity_series,
        h_maxima_per_qbin,
        labeled_pixels_frame,
        outlier_pixels,
        with_base_mask,
        with_img_idx,
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
    drop = ["tth", "azim_band", "azim_mask", "q", "azim"]
    masked = with_base_mask(with_calib_columns(pixels, c), controls=c)
    px = with_img_idx(
        masked.drop(*[col for col in drop if col in masked.columns])
    ).persist(StorageLevel.MEMORY_AND_DISK)
    print("px rows:", px.count(), flush=True)
    outliers = outlier_pixels(
        px.drop("dataset", "seq"), esd_mul=c.esd_mul
    ).localCheckpoint(eager=True)
    lpx = labeled_pixels_frame(
        px.drop("dataset", "seq"), outliers, (size, size),
        sparse_hint=F.broadcast, controls=c, closing_radius=1,
    ).select("image_id", "y", "x").localCheckpoint(eager=True)
    print("lpx rows:", lpx.count(), flush=True)
    spot = px.where(F.col("intensity") > 3000).select(
        "image_id", "y", "x"
    ).localCheckpoint(eager=True)
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

    def _noop(df, label):
        sc = spark.sparkContext
        sc.setLocalProperty("callSite.short", label)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("callSite.short", None)

    def grad_job():
        _noop(
            fused_gradient_inputs(
                px.drop("dataset", "seq"), lpx, c, n_images=batch
            ),
            "probe:grad_fused",
        )

    def run_rep(rep, concurrent):
        before = _done()
        t0 = time.perf_counter()
        if concurrent:
            with ThreadPoolExecutor(max_workers=3) as pool:
                fc = pool.submit(
                    _noop, cosine_similarity_series(pixels), "probe:csim"
                )
                fh = pool.submit(
                    _noop,
                    h_maxima_per_qbin(
                        with_base_mask(
                            with_calib_columns(pixels, c), controls=c,
                        ).where(~F.col("base_mask")).select(
                            "image_id", "y", "x", "intensity"
                        ),
                        F.broadcast(spot), c, n_images=batch,
                    ),
                    "probe:hmax",
                )
                fg = pool.submit(grad_job)
                fg.result(); fc.result(); fh.result()
        else:
            grad_job()
        wall = time.perf_counter() - t0
        time.sleep(1.0)
        after = _done()
        new = [s for k, s in after.items() if k not in before]
        gstages = [
            s for s in new
            if s["name"].splitlines()[0].startswith("probe:grad_fused")
        ]
        grun = sum(s.get("executorRunTime", 0) for s in gstages) / 1000
        gcpu = sum(s.get("executorCpuTime", 0) for s in gstages) / 1e9
        print(
            f"rep={rep} mode={'batch' if concurrent else 'iso'} "
            f"wall={wall:6.1f} grad_run={grun:7.1f} grad_cpu={gcpu:7.1f} "
            f"stages={len(gstages)}",
            flush=True,
        )
        return grun, gcpu

    # warmup: one pass so scratch pools + JIT are warm
    grad_job()
    results = {}
    modes = ["iso", "batch"] if mode == "both" else [mode]
    for m in modes:
        runs = [run_rep(r, m == "batch") for r in range(reps)]
        results[m] = runs
        rr = sorted(x[0] for x in runs)
        print(
            f"== {m}: grad_run med={statistics.median(rr):.1f} "
            f"min={rr[0]:.1f} max={rr[-1]:.1f} all={[round(x[0],1) for x in runs]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
