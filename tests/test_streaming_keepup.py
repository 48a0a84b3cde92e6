"""Streaming keep-up smoke at the reference's full-resolution config.

Round-7 (carried round-5 #6): one StreamingImagePipeline run over 8
synthetic 2880^2 pixel files at FULL parity (gradient stage + h-maxima +
csim + every sink), asserting the availableNow queue DRAINS (the T4
auto-stop analog of pipeline_queue.py:849-852 — 'process existing images
then stop') and recording per-micro-batch overhead from the query
progress log.

Minutes-long by design, so skip-guarded: run with

    XRDSPARK_KEEPUP_SMOKE=1 python -m pytest tests/test_streaming_keepup.py -s

The per-batch assembly is shared by construction with bench.py's
`_keepup_2880` measurement path: both run `streaming.pipeline.run_batch`
(the bench with noop sinks and its own barrier; the stream with
`local_checkpoint`). This test adds
what bench can't see — the Structured Streaming wrapper (source listing,
foreachBatch dispatch, checkpoint commits, csim-over-store lookback) on
top of that batch.
"""

from __future__ import annotations

import json
import os
import time

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("XRDSPARK_KEEPUP_SMOKE") != "1",
    reason="full-resolution streaming smoke (minutes); XRDSPARK_KEEPUP_SMOKE=1",
)

SIZE = 2880
N_IMAGES = 8
FILES_PER_TRIGGER = 2  # -> 4 non-empty micro-batches


def test_streaming_keepup_full_parity(tmp_path):
    import bench  # repo-root harness: shared synthetic-image generator
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.session import get_spark
    from xrddatapipeline_spark.streaming.pipeline import (
        StreamingImagePipeline,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        app_name="xrdspark-keepup-smoke",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    c = ImageControls(
        wavelength=0.24087,
        distance=959.0,
        center_x=SIZE * 150.0 / 2000.0,
        center_y=SIZE * 150.0 / 2000.0,
        pixel_size_x=150.0,
        pixel_size_y=150.0,
        size_x=SIZE,
        size_y=SIZE,
        iotth=(1.0, 12.7),
        out_channels=2500,
        num_chans_om=1000,
        pola_val=0.99,
        esd_mul=3.0,
        dataset="keepup",
    )
    input_dir = str(tmp_path / "input")
    all_px = bench._synthetic_pixels(spark, c, n_images=N_IMAGES)
    for seq in range(N_IMAGES):
        # one parquet part-file per acquisition, appended flat into the
        # landing dir — the shape the file-stream source lists (and what
        # the beamline's one-file-per-exposure writer produces)
        all_px.where(f"seq = {seq}").coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    pipe = StreamingImagePipeline(
        spark,
        calib=None,
        controls=c,
        out_dir=str(tmp_path / "out"),
        gradient_stage=True,  # full parity: gradient + h-maxima + csim
    )
    t0 = time.perf_counter()
    q = pipe.start(
        input_dir,
        str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=FILES_PER_TRIGGER,
        path_glob="*.parquet",
    )
    drained = q.awaitTermination(3600)
    wall = time.perf_counter() - t0
    assert drained, "availableNow queue did not drain within an hour"

    # StreamingQueryProgress is a dict subclass in PySpark 4
    batch_ms = {
        p["batchId"]: p["durationMs"]
        for p in q.recentProgress
        if p.get("numInputRows", 0) > 0
    }
    per_batch = {
        bid: d.get("triggerExecution") for bid, d in sorted(batch_ms.items())
    }
    print(
        json.dumps(
            {
                "metric": "streaming_keepup_smoke",
                "img_size": SIZE,
                "n_images": N_IMAGES,
                "files_per_trigger": FILES_PER_TRIGGER,
                "batches": pipe.batches_seen,
                "wall_sec": round(wall, 2),
                "sec_per_image": round(wall / N_IMAGES, 2),
                "trigger_execution_ms": per_batch,
            }
        )
    )
    assert pipe.batches_seen >= N_IMAGES // FILES_PER_TRIGGER

    # Keep-up assertion (round 8, VERDICT r7 #5): the reference's
    # criterion is the queue never grows (pipeline_queue.py:849-852) —
    # for a live trigger that means steady-state triggerExecution <=
    # acquisition_period * files_per_trigger. Batch 0 carries one-time
    # JIT/warmup a drained queue never sees again, so the steady-state
    # figure is the best post-warmup batch (the bench's min-of-N
    # philosophy). Bar: 90 s/img default — round-7 steady batches ran
    # 100.4-143.5 s at 2 imgs/batch (50-72 s/img; small batches
    # amortize ~2-3x worse than the bench's 8-img batches), and this
    # host weathers 2x on identical binaries, so 90 catches a >=2x
    # regression without flaking on weather. Override via
    # XRDSPARK_KEEPUP_BAR_SEC for slower hosts.
    bar_sec_per_img = float(os.environ.get("XRDSPARK_KEEPUP_BAR_SEC", "90"))
    # progress entries can lack a triggerExecution duration (None) —
    # drop those rather than TypeError inside min()
    steady_ms = [
        v for _, v in sorted(per_batch.items()) if v is not None
    ][1:]
    assert steady_ms, "need >=2 non-empty micro-batches for a steady state"
    steady_sec_per_img = min(steady_ms) / 1000.0 / FILES_PER_TRIGGER
    assert steady_sec_per_img <= bar_sec_per_img, (
        f"steady-state {steady_sec_per_img:.1f} s/img exceeds the "
        f"keep-up bar {bar_sec_per_img} s/img — the queue would grow at "
        f"any acquisition period below that"
    )

    # every image made it through every full-parity output
    for table, id_col in (
        ("integrals", "image_id"),
        ("spot_stats", "image_id"),
        ("h_maxima", "image_id"),
        ("csim", "image_id"),
    ):
        got = pipe.output(table).select(id_col).distinct().count()
        assert got == N_IMAGES, (table, got)
    spark.stop()
