"""Streaming wrapper: incremental file arrival, backfill, csim lookback.

Simulates the reference's poll loop with two AvailableNow runs sharing a
checkpoint: run 1 drains the existing files (T4 backfill), a new image
lands, run 2 processes ONLY the new file (checkpoint exactly-once on the
source) and its csim pairs against the stored previous image (T5).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from xrddatapipeline_spark.plans.image_pipeline import cosine_similarity_series
from xrddatapipeline_spark.streaming import StreamingImagePipeline, read_pixel_stream
from xrddatapipeline_spark.streaming.pipeline import run_batch
from tests.fixtures_images import CONTROLS, images_long_df, make_image


def _land_image(spark, input_dir: str, seq: int) -> None:
    img = make_image(CONTROLS, seq=seq)
    (
        images_long_df(spark, [("synth", seq, img)])
        .coalesce(1)
        .write.mode("append")
        .parquet(input_dir)
    )


@pytest.fixture(scope="module")
def stream_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    input_dir, out_dir = str(root / "landing"), str(root / "out")
    ckpt = str(root / "ckpt")

    _land_image(spark, input_dir, 0)
    _land_image(spark, input_dir, 1)

    pipe = StreamingImagePipeline(spark, None, CONTROLS, out_dir)

    # run 1: backfill both existing images, auto-stop (T4 availableNow)
    q = pipe.start(input_dir, ckpt, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(120)
    batches_run1 = pipe.batches_seen

    # a third image lands; run 2 must process only it
    _land_image(spark, input_dir, 2)
    q = pipe.start(input_dir, ckpt, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(120)

    return pipe, batches_run1


def test_render_masks_batch(spark, tmp_path):
    """K3 wiring: process_batch with render_masks writes per-image
    base/outliermask TIFFs that match the masked pixel counts."""
    import os

    from tests.fixtures_images import images_long_df, make_image
    from xrddatapipeline_spark.sources.tiff import read_tiff_gray

    out_dir = str(tmp_path / "out")
    pipe = StreamingImagePipeline(
        spark, None, CONTROLS, out_dir, render_masks=True
    )
    px = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    pipe.process_batch(px, 0)
    base_path = os.path.join(out_dir, "masks", "synth-00000_base.tif")
    om_path = os.path.join(out_dir, "masks", "synth-00000_outliermask.tif")
    base = read_tiff_gray(open(base_path, "rb").read())
    om = read_tiff_gray(open(om_path, "rb").read())
    assert base.shape == (CONTROLS.size_y, CONTROLS.size_x)
    n_outliers = pipe.output("outliers").count()
    assert om.sum() == n_outliers > 0
    assert base.sum() > 0


def test_pause_clear_queue_resume(spark, tmp_path):
    """T4 clear-queue: pending landing files snapshotted into the skip
    manifest are dropped at the source on resume; already-processed and
    later-arriving files are unaffected (reference UI queue.clear())."""
    input_dir, out_dir = str(tmp_path / "landing"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pipe = StreamingImagePipeline(spark, None, CONTROLS, out_dir)

    _land_image(spark, input_dir, 0)
    q = pipe.start(input_dir, ckpt, available_now=True)
    q.awaitTermination(120)
    pipe.pause()

    # two images land while paused; operator clears the queue
    _land_image(spark, input_dir, 1)
    _land_image(spark, input_dir, 2)
    n_manifest = pipe.clear_queue(input_dir, "*.parquet")
    # snapshot includes seq 0's already-processed file (visible in landing)
    assert n_manifest == 3

    q = pipe.resume()
    q.awaitTermination(120)
    # resume pruned the already-committed seq-0 file from the manifest
    # (redundant — the checkpoint never replays it); the two genuinely
    # pending skips remain
    assert len(pipe._load_skip_names()) == 2
    seen = {r.image_id for r in
            pipe.output("integrals").select("image_id").distinct().collect()}
    assert seen == {"synth-00000"}  # cleared files skipped

    # a fresh image after the clear IS processed
    _land_image(spark, input_dir, 3)
    q = pipe.resume()
    q.awaitTermination(120)
    seen = {r.image_id for r in
            pipe.output("integrals").select("image_id").distinct().collect()}
    assert seen == {"synth-00000", "synth-00003"}


def test_backfill_processes_each_image_once(stream_run):
    pipe, batches_run1 = stream_run
    # maxFilesPerTrigger=1 -> one batch per image in run 1 (one in flight)
    assert batches_run1 >= 2
    integrals = pipe.output("integrals").toPandas()
    counts = integrals.groupby("image_id").size()
    assert sorted(counts.index) == ["synth-00000", "synth-00001", "synth-00002"]
    # each image written exactly once: 4 kinds x <=250 bins, identical count
    assert counts.nunique() == 1


def test_incremental_run_only_new_file(stream_run):
    pipe, _ = stream_run
    csim = pipe.output("csim").toPandas().sort_values("seq")
    assert list(csim.seq) == [0, 1, 2]  # one csim row per image, no dups


def test_csim_lookback_across_batches(stream_run):
    pipe, _ = stream_run
    csim = pipe.output("csim").toPandas().set_index("seq")
    # image 0 pairs with itself
    np.testing.assert_allclose(csim.loc[0, "csim_first"], 1.0, rtol=1e-12)
    # images 1 and 2 were processed in different runs than image 0, so
    # their csim_first/prev prove the store lookback works across batches
    assert 0.9 < csim.loc[1, "csim_first"] < 1.0
    assert 0.9 < csim.loc[2, "csim_first"] < 1.0
    # drift decays similarity vs first monotonically
    assert csim.loc[2, "csim_first"] < csim.loc[1, "csim_first"]


def test_outputs_consistent_with_batch_plan(stream_run, spark):
    """Streaming outputs == running the batch plan directly (same images)."""
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan

    pipe, _ = stream_run
    img = make_image(CONTROLS, seq=1)
    pixels = images_long_df(spark, [("synth", 1, img)])
    res = run_image_plan(pixels, CONTROLS)
    want = (
        res.integrals.where("kind = 'base'")
        .toPandas().set_index("tth_idx").intensity.sort_index()
    )
    got = (
        pipe.output("integrals").toPandas()
        .query("image_id == 'synth-00001' and kind == 'base'")
        .set_index("tth_idx").intensity.sort_index()
    )
    np.testing.assert_allclose(got.values, want.values, rtol=1e-12)
    # A19: the h-maxima table (reference spottiness stage) is written per
    # batch and matches the batch plan
    want_hm = res.h_maxima.toPandas()
    got_hm = (
        pipe.output("h_maxima").toPandas()
        .query("image_id == 'synth-00001'")
    )
    assert got_hm.n_maxima.sum() == want_hm.n_maxima.sum()
    assert got_hm.n_spot_maxima.sum() == want_hm.n_spot_maxima.sum()


def test_settle_guard_filters_fresh_rows(spark, tmp_path):
    input_dir = str(tmp_path / "landing")
    _land_image(spark, input_dir, 0)
    fresh = read_pixel_stream(spark, input_dir, settle_seconds=3600.0)
    settled = read_pixel_stream(spark, input_dir, settle_seconds=0.0)
    # availableNow one-shot drain into memory sink to inspect the filter
    def _count(df, name):
        q = (
            df.groupBy().count().writeStream.format("memory")
            .queryName(name).outputMode("complete")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        rows = spark.sql(f"select * from {name}").collect()
        return rows[0][0] if rows else 0

    assert _count(fresh, "fresh_cnt") == 0  # just-written file is too new
    assert _count(settled, "settled_cnt") == CONTROLS.size_x * CONTROLS.size_y


def test_live_processing_time_trigger(spark, tmp_path):
    """T2 live-watch mode: a processingTime-trigger query picks up images
    AS THEY LAND (the reference's 100 ms watchdog poll loop,
    pipeline_queue.py:746-795) without restarting the query."""
    import time

    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _land_image(spark, input_dir, 0)

    pipe = StreamingImagePipeline(spark, None, CONTROLS, out_dir)
    q = pipe.start(
        input_dir, ckpt,
        available_now=False, processing_interval="500 milliseconds",
    )

    def seen() -> set:
        try:
            return set(pipe.output("csim").toPandas().seq)
        except Exception:  # output not yet written by the first batch
            return set()

    try:
        deadline = time.time() + 120
        while time.time() < deadline and 0 not in seen():
            time.sleep(0.5)
        assert 0 in seen(), "pre-existing image not processed by live query"

        _land_image(spark, input_dir, 1)  # lands while the query is running
        while time.time() < deadline and 1 not in seen():
            time.sleep(0.5)
        assert seen() >= {0, 1}, "file landed mid-stream was not picked up"
        assert q.isActive  # live trigger keeps running (no auto-stop)
    finally:
        q.stop()


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions close when a later event
    proves the gap; open sessions survive in the state store across
    micro-batches (two availableNow runs on one checkpoint)."""
    import pandas as pd

    from xrddatapipeline_spark.streaming.sessions import sessionize_stream

    landing = tmp_path / "events"
    landing.mkdir()
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")
    GAP = 1_000_000  # 1 s in us

    def land(name, rows):
        pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts_us"]
        ).to_parquet(landing / name)

    def run():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts_us long"
        ).parquet(str(landing))
        q = (
            sessionize_stream(stream, GAP)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # user 1: two closed sessions + one open; user 2: one open session
    land("b1.parquet", [
        (1, 0, 0), (1, 1, 100), (1, 2, 200),        # session 0: 3 events
        (1, 3, 5_000_000), (1, 4, 5_000_100),        # session 1: 2 events
        (1, 5, 9_000_000),                           # session 2: open
        (2, 6, 0), (2, 7, 50),                       # user 2: open
    ])
    run()
    got = spark.read.parquet(out).toPandas()
    got1 = got.sort_values("session_seq").reset_index(drop=True)
    assert [tuple(r) for r in got1.itertuples(index=False)] == [
        (1, 0, 3, 0, 200), (1, 1, 2, 5_000_000, 5_000_100),
    ]

    # batch 2 closes user 1's session 2 AND user 2's session 0 (state kept)
    land("b2.parquet", [(1, 8, 20_000_000), (2, 9, 30_000_000)])
    run()
    got = spark.read.parquet(out).toPandas().sort_values(["user_id", "session_seq"])
    rows = {(r.user_id, r.session_seq): (r.n_events, r.start_us, r.end_us)
            for r in got.itertuples()}
    assert rows[(1, 2)] == (1, 9_000_000, 9_000_000)
    assert rows[(2, 0)] == (2, 0, 50)
    assert len(rows) == 4


def test_sessionize_stream_matches_pandas_oracle(spark, tmp_path):
    """Randomized equivalence: the stateful streaming sessionizer must emit
    exactly the closed sessions an independent pandas implementation
    computes, with events split chronologically across micro-batches
    (maxFilesPerTrigger=1) so state crosses batch boundaries."""
    import numpy as np
    import pandas as pd

    from xrddatapipeline_spark.streaming.sessions import sessionize_stream

    rng = np.random.default_rng(7)
    n = 300
    ev = pd.DataFrame({
        "user_id": rng.integers(0, 5, n),
        "event_id": np.arange(n),
        "ts_us": rng.integers(0, 40_000_000, n),
    }).sort_values(["ts_us", "event_id"]).reset_index(drop=True)
    GAP = 1_000_000

    # independent oracle: per-user gap split; sessions not followed by a
    # later in-gap event are CLOSED only if a later event proves the gap
    expected = set()
    for uid, g in ev.groupby("user_id"):
        ts = g.sort_values(["ts_us", "event_id"])["ts_us"].to_numpy()
        sessions, start, last, cnt = [], ts[0], ts[0], 1
        for t in ts[1:]:
            if t - last > GAP:
                sessions.append((start, last, cnt))
                start, last, cnt = t, t, 1
            else:
                last, cnt = t, cnt + 1
        for seq, (s, e, c) in enumerate(sessions):  # final session stays open
            expected.add((uid, seq, c, s, e))

    landing = tmp_path / "ev"
    landing.mkdir()
    for i, chunk in enumerate(np.array_split(ev, 3)):
        chunk.to_parquet(landing / f"c{i}.parquet")

    stream = spark.readStream.schema(
        "user_id long, event_id long, ts_us long"
    ).option("maxFilesPerTrigger", 1).parquet(str(landing))
    q = (
        sessionize_stream(stream, GAP)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected and len(expected) > 20


def test_watermarked_window_drops_late_events(spark, tmp_path):
    """Event-time tumbling windows with a watermark: a window emits once
    the watermark passes its end, and an event arriving behind the
    watermark is DROPPED (never resurrects its window)."""
    import pandas as pd

    from xrddatapipeline_spark.streaming.windows import windowed_event_counts

    landing = tmp_path / "ev"
    landing.mkdir()

    def land(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        # micro-second timestamps: Spark 4 rejects pandas' default NANOS
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
        pdf.to_parquet(landing / name)

    def run():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).option("maxFilesPerTrigger", 1).parquet(str(landing))
        q = (
            windowed_event_counts(stream, "10 minutes", "5 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def got():
        return {
            (int(r.window_start.timestamp()), r.n_events, r.sum_value)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    # windows are 10 min = [0, 600), [600, 1200), ...; watermark lag 5 min.
    # Run 1 pushes the committed watermark to 4000-300=3700 s, well past
    # window [0, 600): it emits with exactly its two on-time events.
    land("b1.parquet", [(1, 10, 1.0), (1, 20, 2.0), (2, 700, 4.0)])
    land("b2.parquet", [(3, 2000, 8.0)])
    land("b3.parquet", [(1, 4000, 32.0)])
    run()
    first = got()
    assert {(0, 2, 3.0), (600, 1, 4.0), (1800, 1, 8.0)} <= first

    # Run 2 resumes from the checkpointed watermark (3700): the t=30 event
    # is now provably late — it must be DROPPED, not resurrect window 0
    land("b4.parquet", [(1, 30, 100.0), (1, 5000, 64.0)])
    run()
    second = got()
    # window 0 still appears exactly once, with its original aggregate
    assert [w for (w, _, _) in second].count(0) == 1
    assert (0, 2, 3.0) in second
    assert all(v != 100.0 and v != 103.0 for (_, _, v) in second)


def test_cli_backfill_from_tiffs(spark, tmp_path):
    """End-to-end CLI parity with the reference's entry point: a landing
    dir of detector TIFFs + an .imctrl file -> full plan outputs, via
    scripts/run_pipeline.py main() in backfill mode."""
    import sys

    sys.path.insert(0, "scripts")
    from run_pipeline import main

    from xrddatapipeline_spark.sources.tiff import write_tiff_gray
    from tests.test_sources_sinks import IMCTRL

    landing = tmp_path / "landing"
    landing.mkdir()
    for seq in (0, 1):
        img = make_image(CONTROLS, seq=seq)
        write_tiff_gray(str(landing / f"synth-{seq:05d}.tif"), img)
    ctrl = tmp_path / "run.imctrl"
    ctrl.write_text(IMCTRL)

    out = tmp_path / "out"
    rc = main([
        "--input", str(landing),
        "--controls", str(ctrl),
        "--out", str(out),
    ])
    assert rc == 0

    integrals = spark.read.parquet(str(out / "integrals")).toPandas()
    assert set(integrals.image_id) == {"synth-00000", "synth-00001"}
    assert set(integrals.kind) == {"base", "om", "spotsmasked", "arcsmasked"}
    csim = spark.read.parquet(str(out / "csim")).toPandas()
    assert sorted(csim.seq) == [0, 1]


def test_streaming_gradient_stage_output(spark, tmp_path):
    """gradient_stage=True threads the optional 2nd-derivative repair pass
    through the streaming wrapper and lands its gradient_arcs table."""
    input_dir = str(tmp_path / "landing")
    _land_image(spark, input_dir, 0)

    pipe = StreamingImagePipeline(
        spark, None, CONTROLS, str(tmp_path / "out"), gradient_stage=True
    )
    q = pipe.start(input_dir, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(180)

    arcs = pipe.output("gradient_arcs").toPandas()
    assert set(arcs.columns) >= {"image_id", "label", "on_arc"}
    assert (arcs.image_id == "synth-00000").all()
    # the regular outputs still land alongside
    assert pipe.output("integrals").count() > 0


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join: pairs within the time
    band emit exactly once; a row arriving behind the watermark finds
    its partner evicted from the state store and emits nothing."""
    import pandas as pd

    from xrddatapipeline_spark.streaming.joins import interval_join_streams

    ldir, rdir = tmp_path / "purch", tmp_path / "err"
    ldir.mkdir(); rdir.mkdir()

    def land(d, name, rows, cols):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
        pdf.to_parquet(d / name)

    def run():
        ls = spark.readStream.schema(
            "user_id long, ts timestamp, amount double"
        ).parquet(str(ldir))
        rs = spark.readStream.schema(
            "user_id long, ts timestamp, code string"
        ).parquet(str(rdir))
        joined = interval_join_streams(
            ls, rs, key="user_id", within="1 hour",
            left_late="10 minutes", right_late="10 minutes",
        )
        q = (
            joined.select(
                "user_id",
                F.unix_timestamp("ts").alias("pt"),
                F.unix_timestamp("ts_r").alias("et"),
                F.col("code_r").alias("code"),
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def got():
        return {
            (r.user_id, r.pt, r.et, r.code)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    # user 1: purchase t=100, errors at t=200 (in band) and t=5000 (out of
    # 1h band); user 2: purchase t=1000, error t=900 (before -> no match).
    land(ldir, "l1.parquet", [(1, 100, 9.99), (2, 1000, 5.0)],
         ["user_id", "ts", "amount"])
    land(rdir, "r1.parquet",
         [(1, 200, "E1"), (1, 5000, "E2"), (2, 900, "E3")],
         ["user_id", "ts", "code"])
    # push both watermarks far forward so old state is evicted
    land(ldir, "l2.parquet", [(9, 50000, 1.0)], ["user_id", "ts", "amount"])
    land(rdir, "r2.parquet", [(9, 50001, "WM")], ["user_id", "ts", "code"])
    run()
    first = got()
    assert (1, 100, 200, "E1") in first
    assert all(c != "E2" and c != "E3" for (_, _, _, c) in first)

    # a late error for user 1 behind the watermark: its purchase row has
    # been evicted -> no new match may appear on resume
    land(rdir, "r3.parquet", [(1, 150, "LATE")], ["user_id", "ts", "code"])
    run()
    assert all(c != "LATE" for (_, _, _, c) in got())


def test_stage_metrics_observability_sink(spark, tmp_path):
    """observe_metrics=True lands one stage-counter row per batch under
    out/stage_metrics, harvested from the batch's own writes."""
    input_dir, out_dir = str(tmp_path / "landing"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _land_image(spark, input_dir, 0)
    _land_image(spark, input_dir, 1)
    pipe = StreamingImagePipeline(
        spark, None, CONTROLS, out_dir, observe_metrics=True
    )
    q = pipe.start(input_dir, ckpt, available_now=True,
                   max_files_per_trigger=1)
    q.awaitTermination(120)
    m = spark.read.json(out_dir + "/stage_metrics").toPandas()
    assert len(m) == 2  # one row per single-image batch
    n_px = CONTROLS.size_x * CONTROLS.size_y
    assert (m["n_px"] == n_px).all()
    assert set(m.columns) >= {
        "batch_id", "n_px", "n_base_masked", "n_outlier_px", "n_om_px",
        "n_clusters", "n_spots", "n_arcs", "n_integral_rows",
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate content arriving within the
    watermark horizon is dropped (state persists across checkpointed
    runs); distinct content always passes."""
    import pandas as pd

    from xrddatapipeline_spark.streaming.dedup import (
        dedup_stream,
        with_content_hash,
    )

    landing = tmp_path / "docs"
    landing.mkdir()

    def land(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "text"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
        pdf.to_parquet(landing / name)

    def run():
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).option("maxFilesPerTrigger", 1).parquet(str(landing))
        q = (
            dedup_stream(with_content_hash(stream), watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    t0 = 1_700_000_000
    land("a.parquet", [(1, t0, "alpha"), (2, t0 + 60, "beta")])
    land("b.parquet", [(3, t0 + 120, "alpha")])  # dup of doc 1, same batch run
    run()

    # later run, same checkpoint: dup within horizon still dropped,
    # fresh content emitted
    land("c.parquet", [(4, t0 + 600, "beta"), (5, t0 + 660, "gamma")])
    run()

    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert sorted(out["doc_id"]) == [1, 2, 5]  # 3 and 4 deduped
    assert set(out["text"]) == {"alpha", "beta", "gamma"}


def test_prune_skip_manifest_keeps_uncommitted_batch_files(spark, tmp_path):
    """ADVICE r4 #1: source logs are written at batch-PLANNING time, so a
    mid-batch crash leaves the in-flight batch's files under sources/*
    with no commits/<id>. A clear_queue() issued while stopped must
    survive the prune for exactly those files — they WILL be replayed."""
    import json

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src_log = tmp_path / "ckpt" / "sources" / "0"
    commits = tmp_path / "ckpt" / "commits"
    src_log.mkdir(parents=True)
    commits.mkdir(parents=True)
    # batch 0 committed (fileA), batch 1 planned but NOT committed (fileB)
    (src_log / "0").write_text(
        'v1\n{"path":"file:///landing/fileA.parquet","timestamp":1,"batchId":0}'
    )
    (src_log / "1").write_text(
        'v1\n{"path":"file:///landing/fileB.parquet","timestamp":2,"batchId":1}'
    )
    (commits / "0").write_text("v1\n{}")

    pipe = StreamingImagePipeline(spark, None, CONTROLS, out_dir)
    manifest = tmp_path / "out" / "control" / "skip_manifest.json"
    manifest.parent.mkdir(parents=True)
    manifest.write_text(json.dumps(["fileA.parquet", "fileB.parquet"]))

    pipe._prune_skip_manifest(ckpt)
    # committed fileA pruned (never replayed); in-flight fileB kept (will
    # be replayed, and the source-side filter must drop its rows)
    assert pipe._load_skip_names() == {"fileB.parquet"}

    # a .compact log mixes batches: same rule applies per entry
    (src_log / "2.compact").write_text(
        "v1\n"
        '{"path":"file:///landing/fileA.parquet","timestamp":1,"batchId":0}\n'
        '{"path":"file:///landing/fileC.parquet","timestamp":3,"batchId":2}'
    )
    manifest.write_text(json.dumps(["fileB.parquet", "fileC.parquet"]))
    pipe._prune_skip_manifest(ckpt)
    assert pipe._load_skip_names() == {"fileB.parquet", "fileC.parquet"}
    (commits / "2").write_text("v1\n{}")
    pipe._prune_skip_manifest(ckpt)
    assert pipe._load_skip_names() == {"fileB.parquet"}


def test_plan_failure_settles_csim_before_batch_exits(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8: if run_image_plan raises, the overlapped csim thread must
    be SETTLED (its append finished or failed) before process_batch exits —
    an orphaned in-flight append would race the retry's csim append into
    duplicate (dataset, seq) csim rows."""
    import threading
    import time as _time

    import pytest as _pytest

    from xrddatapipeline_spark.streaming import pipeline as sp

    pipe = StreamingImagePipeline(spark, None, CONTROLS, str(tmp_path / "o"))

    csim_done = threading.Event()
    orig_frame = pipe._csim_frame

    def slow_frame(batch_df):
        _time.sleep(1.5)  # still in flight when run_image_plan raises
        frame = orig_frame(batch_df)
        csim_done.set()
        return frame

    monkeypatch.setattr(pipe, "_csim_frame", slow_frame)

    def boom(*a, **k):
        raise RuntimeError("plan construction failed")

    monkeypatch.setattr(sp, "run_image_plan", boom)

    batch = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    with _pytest.raises(RuntimeError, match="plan construction failed"):
        pipe.process_batch(batch, batch_id=0)
    # the failure must not exit the batch with the csim append in flight
    assert csim_done.is_set(), (
        "process_batch raised while the csim append was still running — "
        "orphaned thread would race the foreachBatch retry"
    )
    # and the append actually landed (settled = completed here, so a retry
    # appends alongside a FINISHED write, never a concurrent one)
    got = spark.read.parquet(str(tmp_path / "o" / "csim"))
    assert got.count() == 1


def test_sink_failure_settles_csim_and_releases_plan(spark):
    """A sink's write raising inside run_batch propagates, but only after
    the overlapped csim write has settled and every frame the plan
    persisted has been released."""
    import threading
    import time as _time

    from tests.test_barrier import _persistent_rdd_ids

    px = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    before = _persistent_rdd_ids(spark)
    live: list[set[int]] = []
    sink_failed, csim_done = threading.Event(), threading.Event()

    def slow_csim():
        # still in flight when the failing sink raises
        assert sink_failed.wait(timeout=300)
        _time.sleep(1.5)
        return cosine_similarity_series(px)

    def write(df, name):
        if name == "spot_stats":
            live.append(_persistent_rdd_ids(spark) - before)
            sink_failed.set()
            raise RuntimeError("sink down")
        df.write.format("noop").mode("overwrite").save()
        if name == "csim":
            csim_done.set()

    with pytest.raises(RuntimeError, match="sink down"):
        with run_batch(px, CONTROLS, write, slow_csim):
            pytest.fail("the with-body must not run after a sink failed")
    assert csim_done.is_set(), "run_batch raised with csim still in flight"
    assert live and live[0], "the plan's barrier frames were not persisted"
    assert not (_persistent_rdd_ids(spark) - before)


def test_plan_failure_settles_early_sinks_and_releases_barriers(
    spark, monkeypatch
):
    """A barrier job that raises inside run_image_plan leaves no persisted
    RDD behind: the sink already started (outliers) settles first, then
    the barriers built so far and the failed barrier's own checkpoint are
    released, and the error reaches the caller."""
    from tests.test_barrier import _persistent_rdd_ids
    from xrddatapipeline_spark.plans import image_pipeline as ip

    px = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    orig = ip.label_table_from
    monkeypatch.setattr(
        ip, "label_table_from",
        lambda lpx, **kw: orig(lpx, **kw).withColumn(
            "boom", F.raise_error(F.lit("label_table down"))
        ),
    )
    before = _persistent_rdd_ids(spark)
    written: list[str] = []

    def write(df, name):
        df.write.format("noop").mode("overwrite").save()
        written.append(name)

    with pytest.raises(Exception, match="label_table down"):
        with run_batch(px, CONTROLS, write,
                       lambda: cosine_similarity_series(px)):
            pytest.fail("the with-body must not run after the plan failed")
    assert sorted(written) == ["csim", "outliers"]
    assert not (_persistent_rdd_ids(spark) - before)


def test_pixel_store_failure_raises_after_the_batch_settles(
    spark, tmp_path, monkeypatch
):
    """The pixel store is written on csim's side thread beside the plan.
    When that write fails, the plan raises it at its first output instead
    of submitting a sink: csim is never built (its store is missing), no
    plan output is written, and the plan's frames and the decode
    checkpoint are released."""
    import os

    from tests.test_barrier import _persistent_rdd_ids
    from xrddatapipeline_spark import tables

    pipe = StreamingImagePipeline(spark, None, CONTROLS, str(tmp_path / "o"))
    orig = tables.write_table
    started: list[str] = []
    finished: list[str] = []

    def write_table(df, path, *a, **k):
        name = os.path.basename(path)
        started.append(name)
        if name == "pixels":
            raise RuntimeError("pixel store down")
        orig(df, path, *a, **k)
        finished.append(name)

    monkeypatch.setattr(tables, "write_table", write_table)
    batch = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="pixel store down"):
        pipe.process_batch(batch, batch_id=0)
    assert "csim" not in started
    assert finished == []
    assert not (_persistent_rdd_ids(spark) - before)


def test_positional_calib_table_is_unread(spark, tmp_path):
    """The repo benchmark passes a calib table positionally,
    StreamingImagePipeline(spark, calib, controls, out_dir); the plan
    computes calibration from controls, so that call writes the same
    outputs as a pipeline given None."""
    import pandas as pd

    from xrddatapipeline_spark.calib.cache import build_calib_pixels

    tables = ("integrals", "spot_stats", "spottiness", "outliers",
              "h_maxima", "csim", "pixels")
    batch = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    calib = build_calib_pixels(spark, CONTROLS).persist()
    outs = {}
    for side, cal in (("table", calib), ("none", None)):
        pipe = StreamingImagePipeline(spark, cal, CONTROLS, str(tmp_path / side))
        pipe.process_batch(batch, batch_id=0)
        outs[side] = {}
        for t in tables:
            pdf = pipe.output(t).toPandas()
            key = sorted(c for c in pdf.columns if pdf[c].dtype.kind != "f")
            outs[side][t] = pdf.sort_values(key).reset_index(drop=True)
    calib.unpersist()
    for t in tables:
        assert len(outs["none"][t]) > 0, t
        # sums of doubles may differ in the last ulp with task order
        pd.testing.assert_frame_equal(
            outs["table"][t], outs["none"][t], check_like=True, rtol=1e-12
        )


def test_run_batch_starts_early_sinks_before_the_intspot_barrier(
    spark, monkeypatch
):
    """outliers, spot_stats and h_maxima read no barrier after
    label_table, so their writes start while the plan still builds its
    intspot barrier: the fused-bins stage here waits (at most 60 s) for
    all three writes to begin."""
    import threading

    from xrddatapipeline_spark.plans import image_pipeline as ip

    px = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    early = {"outliers", "spot_stats", "h_maxima"}
    seen: set[str] = set()
    lock, ready = threading.Lock(), threading.Event()
    waited: list[bool] = []
    orig = ip.integrate_and_spottiness

    def gated(*a, **k):
        waited.append(ready.wait(timeout=60))
        return orig(*a, **k)

    def write(df, name):
        with lock:
            seen.add(name)
            if early <= seen:
                ready.set()
        df.write.format("noop").mode("overwrite").save()

    monkeypatch.setattr(ip, "integrate_and_spottiness", gated)
    with run_batch(px, CONTROLS, write,
                   lambda: cosine_similarity_series(px)):
        pass
    assert waited == [True], "early sinks did not start before intspot"


@pytest.mark.parametrize("gradient", [False, True])
def test_run_batch_writes_the_shipped_output_set(spark, gradient):
    """run_batch hands write() exactly the shipped outputs, each plan
    output under its sink:<name> job label and csim under "csim"."""
    px = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    labels: dict[str, str] = {}

    def write(df, name):
        assert name not in labels, f"{name} written twice"
        labels[name] = spark.sparkContext.getLocalProperty("callSite.short")

    with run_batch(px, CONTROLS, write,
                   lambda: cosine_similarity_series(px),
                   gradient_stage=gradient):
        pass
    want = {"integrals", "spot_stats", "spottiness", "outliers", "h_maxima"}
    want |= {"gradient_arcs"} if gradient else set()
    assert labels == {**{n: f"sink:{n}" for n in want}, "csim": "csim"}


def test_tiff_stream_decodes_each_frame_once(spark, tmp_path, monkeypatch):
    """process_batch checkpoints the decoded batch once, and the emptiness
    check, the pixel store, csim's key collect and the plan all scan that
    checkpoint: the TIFF source reports one input row (its one file) per
    trigger, not one per action. The plan's image set comes from the
    checkpoint's observed keys, never its own collect. The checkpoint is
    released when the batch ends, and csim still matches numpy on the
    decoded frames."""
    from tests.test_barrier import _persistent_rdd_ids
    from xrddatapipeline_spark.plans import image_pipeline as ip
    from xrddatapipeline_spark.sources.tiff import decode_image, write_tiff_gray

    def no_collect(df):
        raise AssertionError("the stream collected its image set")

    monkeypatch.setattr(ip, "_image_set", no_collect)

    landing = tmp_path / "landing"
    landing.mkdir()
    frames = {}
    for seq in (0, 1):
        path = landing / f"synth-{seq:05d}.tif"
        write_tiff_gray(str(path), make_image(CONTROLS, seq=seq))
        frames[seq] = decode_image(path.read_bytes()).astype(np.float64).ravel()
    before = _persistent_rdd_ids(spark)
    pipe = StreamingImagePipeline(spark, None, CONTROLS, str(tmp_path / "out"))
    q = pipe.start(
        str(landing), str(tmp_path / "ckpt"), available_now=True,
        max_files_per_trigger=1, source_format="tiff",
    )
    q.awaitTermination(300)

    rows = [p["numInputRows"] for p in q.recentProgress]
    assert rows == [1, 1], rows
    assert not (_persistent_rdd_ids(spark) - before)
    csim = pipe.output("csim").toPandas().set_index("seq")
    a, b = frames[0], frames[1]
    want = (a @ b) / np.sqrt((a @ a) * (b @ b))
    np.testing.assert_allclose(csim.loc[0, "csim_first"], 1.0, rtol=1e-12)
    np.testing.assert_allclose(csim.loc[1, "csim_first"], want, rtol=1e-12)
    np.testing.assert_allclose(csim.loc[1, "csim_prev"], want, rtol=1e-12)
