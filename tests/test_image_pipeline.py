"""End-to-end per-image plan on synthetic fixtures (SURVEY §7 step 3-7).

The numpy oracle reimplements the reference semantics independently
(masking, ring median/MAD, binned mean with bin-0 routing) and the Spark
plan must match it exactly.
"""

from __future__ import annotations

import numpy as np
import pytest

from xrddatapipeline_spark.calib.cache import build_calib_pixels
from xrddatapipeline_spark.calib.geometry import compute_maps_numpy, tth_bin_index_numpy
from xrddatapipeline_spark.plans.image_pipeline import (
    cosine_similarity_series,
    run_image_plan,
)
from tests.fixtures_images import CONTROLS, images_long_df, make_image


@pytest.fixture(scope="module")
def plan_result(spark):
    img = make_image(CONTROLS, seq=0)
    pixels = images_long_df(spark, [("synth", 0, img)])
    calib = build_calib_pixels(spark, CONTROLS).cache()
    res = run_image_plan(pixels, calib, CONTROLS)
    return img, res


def _numpy_base_integral(img: np.ndarray):
    c = CONTROLS
    maps = compute_maps_numpy(c)
    base_mask = img <= 0
    idx = tth_bin_index_numpy(maps["tth"], *c.iotth, c.out_channels)
    routed = np.where(base_mask, 0, idx)
    val = img / maps["pol"] * maps["dist_sq"] ** 1.5
    sums = np.bincount(routed.ravel(), weights=np.where(base_mask, 0, val).ravel(),
                       minlength=c.out_channels + 1)
    counts = np.bincount(routed.ravel(), weights=(~base_mask).ravel().astype(float),
                         minlength=c.out_channels + 1)
    with np.errstate(invalid="ignore"):
        means = sums / np.maximum(counts, 1)
    return means  # index = tth_idx, bin 0 is the discard bin


def test_base_integral_matches_numpy_oracle(plan_result):
    img, res = plan_result
    got = (
        res.integrals.where("kind = 'base'")
        .orderBy("tth_idx")
        .toPandas()
        .set_index("tth_idx")["intensity"]
    )
    want = _numpy_base_integral(img)
    for tth_idx, intensity in got.items():
        assert tth_idx > 0
        np.testing.assert_allclose(intensity, want[tth_idx], rtol=1e-9,
                                   err_msg=f"bin {tth_idx}")


def test_outlier_mask_catches_hot_pixels(plan_result):
    img, res = plan_result
    # numpy oracle of A2: per-ring exact median/MAD sigma-clip
    c = CONTROLS
    maps = compute_maps_numpy(c)
    ring = tth_bin_index_numpy(maps["tth"], *c.iotth, c.num_chans_om)
    base = img <= 0
    cand = (~base) & (ring > 0)
    want = set()
    for r in np.unique(ring[cand]):
        sel = cand & (ring == r)
        if sel.sum() < 10:
            continue
        v = img[sel].astype(float)
        med = np.median(v)
        mad = np.median(np.abs(v - med))
        out = np.abs(v - med) > c.esd_mul * 1.4826 * mad
        ys, xs = np.nonzero(sel)
        for y, x in zip(ys[out], xs[out]):
            want.add((int(y), int(x)))
    got = {
        (r.y, r.x) for r in res.outliers.select("y", "x").collect()
    }
    assert got == want
    assert len(got) > 20  # the 40 planted hot pixels are mostly caught


def test_classifier_separates_arcs_from_spots(plan_result):
    img, res = plan_result
    lt = res.label_table.toPandas()
    arcs = lt[lt.classifier == 2]
    spots = lt[lt.classifier == 1]
    assert len(arcs) >= 2  # planted arcs (incl. possibly the wrap arc)
    assert len(spots) >= 3  # planted hot spots + singles
    # arcs are azimuthally extended and Q-narrow
    assert (arcs.diff_azim > 3.5).all()
    assert (arcs.diff_q < 0.1).all()


def test_wrap_arc_extent_uses_flipped_axis(plan_result):
    img, res = plan_result
    lt = res.label_table.toPandas()
    arcs = lt[lt.classifier == 2]
    # the wraparound arc (azim 345..15) must not read as ~360 extent
    assert (arcs.diff_azim < 180.0).all()


def test_spot_stats_schema_and_sanity(plan_result):
    img, res = plan_result
    pdf = res.spot_stats.toPandas()
    assert set(pdf.columns) == {
        "image_id", "spot_stat_label", "area", "medianQ", "Qbin",
        "intensity_sum", "intensity_max", "intensity_mean", "on_arc",
    }
    assert (pdf.area > 0).all()
    assert (pdf.intensity_max >= pdf.intensity_mean).all()


def test_integrals_masked_below_base(plan_result):
    """Outlier masking mostly lowers the per-bin mean (hot pixels removed).

    Not a strict per-bin inequality: the integral is a *mean*, so clipping a
    below-median outlier raises that bin's mean. Assert the robust version:
    the vast majority of bins drop, and the image-wide total drops.
    """
    img, res = plan_result
    pdf = res.integrals.toPandas().pivot_table(
        index="tth_idx", columns="kind", values="intensity"
    )
    both = pdf.dropna()
    assert (both["om"] <= both["base"] + 1e-6).mean() > 0.9
    assert both["om"].sum() < both["base"].sum()


def test_h_maxima_per_qbin(plan_result, spark):
    """A19/M6: regional h-maxima counts per Q-bin (spottiness.py:64-84)."""
    from pyspark.sql import functions as F
    from xrddatapipeline_spark.plans.image_pipeline import h_maxima_per_qbin

    img, res = plan_result
    spot_px = (
        res.labeled_pixels.join(
            res.label_table.where("classifier = 1").select("image_id", "label"),
            ["image_id", "label"],
        ).select("image_id", "y", "x")
    )
    hm = h_maxima_per_qbin(res.pixels, spot_px, CONTROLS).toPandas()
    assert (hm.n_spot_maxima <= hm.n_maxima).all()
    assert (hm.qbin >= 0).all()
    # the fixture plants 40 hot pixels + 6 spots + arc ridges: a few dozen
    # maxima, some inside the spot mask
    assert 20 <= hm.n_maxima.sum() <= 500
    assert hm.n_spot_maxima.sum() > 0
    # round 5: wired into run_image_plan (the result carries the same
    # aggregation — spot flags come from the shared mask_flags table,
    # which equals classifier==1 membership without the gradient stage)
    wired = res.h_maxima.toPandas()
    assert wired.n_maxima.sum() == hm.n_maxima.sum()
    assert wired.n_spot_maxima.sum() == hm.n_spot_maxima.sum()


def test_cosine_similarity_series(spark):
    imgs = [("synth", s, make_image(CONTROLS, seq=s)) for s in range(3)]
    pixels = images_long_df(spark, imgs)
    pdf = (
        cosine_similarity_series(pixels).orderBy("seq").toPandas()
    )
    assert len(pdf) == 3
    np.testing.assert_allclose(pdf.csim_first.iloc[0], 1.0, rtol=1e-12)
    np.testing.assert_allclose(pdf.csim_prev.iloc[0], 1.0, rtol=1e-12)
    assert (pdf.csim_first > 0.9).all()  # slow drift keeps images similar
    assert (pdf.csim_first <= 1.0 + 1e-12).all()
    # drift accumulates: similarity vs the first image decays monotonically
    assert (pdf.csim_first.diff().iloc[1:] <= 1e-6).all()
    # exact parity with a numpy oracle on the same pixel vectors
    flat = [i[2].astype(float).ravel() for i in imgs]
    cos = lambda a, b: float(a @ b / np.sqrt((a @ a) * (b @ b)))  # noqa: E731
    np.testing.assert_allclose(
        pdf.csim_first.to_numpy(),
        [cos(flat[s], flat[0]) for s in range(3)],
        rtol=1e-12,
    )
    np.testing.assert_allclose(
        pdf.csim_prev.to_numpy(),
        [cos(flat[s], flat[max(s - 1, 0)]) for s in range(3)],
        rtol=1e-12,
    )


def test_observed_stage_counters_match_outputs(spark):
    """run_image_plan(observe=True): the Observation counters (A22 analog
    of the reference's per-stage printouts) piggyback on output actions
    and equal independently recomputed counts."""
    img = make_image(CONTROLS, seq=7)
    pixels = images_long_df(spark, [("synth", 7, img)])
    calib = build_calib_pixels(spark, CONTROLS).cache()
    res = run_image_plan(pixels, calib, CONTROLS, observe=True)
    try:
        # materialize every output the way the streaming sink would
        for out in (res.integrals, res.spot_stats, res.spottiness,
                    res.outliers, res.h_maxima):
            out.write.format("noop").mode("overwrite").save()
        m = {}
        for o in res.observations.values():
            m.update(o.get)
        assert m["n_px"] == img.size
        assert m["n_outlier_px"] == res.outliers.count()
        assert m["n_om_px"] == res.om_pixels.count()
        assert m["n_clusters"] == res.label_table.count()
        assert m["n_spots"] + m["n_arcs"] <= m["n_clusters"]
        assert m["n_integral_rows"] == res.integrals.count()
        assert m["n_hmax_rows"] == res.h_maxima.count()
        assert set(m) == {
            "n_px", "n_base_masked", "n_outlier_px", "n_om_px",
            "n_clusters", "n_spots", "n_arcs", "n_integral_rows",
            "n_hmax_rows",
        }
    finally:
        res.unpersist_all()
        calib.unpersist()


def test_local_checkpoint_barrier_equivalent_and_released(spark):
    """barrier='local_checkpoint' (the default) produces the same
    integrals as the hybrid barrier, and unpersist_all frees the
    checkpointed RDD storage (a long-lived stream cannot wait for GC)."""
    img = make_image(CONTROLS, seq=3)
    pixels = images_long_df(spark, [("synth", 3, img)])
    calib = build_calib_pixels(spark, CONTROLS).cache()

    res_h = run_image_plan(pixels, calib, CONTROLS, barrier="hybrid")
    want = res_h.integrals.orderBy("kind", "tth_idx").toPandas()
    res_h.unpersist_all()

    def rdd_ids() -> set:
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = rdd_ids()
    res_c = run_image_plan(pixels, calib, CONTROLS,
                           barrier="local_checkpoint")
    got = res_c.integrals.orderBy("kind", "tth_idx").toPandas()
    np.testing.assert_allclose(
        got["intensity"].values, want["intensity"].values, rtol=1e-12
    )
    assert list(got["kind"]) == list(want["kind"])

    assert rdd_ids() - before, "checkpointed barriers should be stored"
    res_c.unpersist_all()
    # every checkpointed barrier frame was explicitly released (other
    # tests' unrelated caches may remain)
    assert not (rdd_ids() - before), rdd_ids() - before
    calib.unpersist()


def test_given_image_ids_build_the_collected_plan_without_collect_or_count(
    spark, monkeypatch
):
    """run_image_plan(image_ids=...) builds exactly the frames of the
    collecting path on a two-image batch, and with the default barrier it
    runs neither the image-set collect nor a count job: the broadcast gate
    reads the outlier barrier's observed row count."""
    import pandas as pd

    from xrddatapipeline_spark.plans import image_pipeline as ip

    pixels = images_long_df(spark, [
        ("synth", 0, make_image(CONTROLS, seq=0)),
        ("synth", 1, make_image(CONTROLS, seq=1)),
    ])
    calib = build_calib_pixels(spark, CONTROLS).cache()
    names = ("outliers", "om_pixels", "label_table", "integrals",
             "spot_stats", "spottiness", "h_maxima")

    def frames(res) -> dict:
        out = {}
        for n in names:
            pdf = getattr(res, n).toPandas()
            out[n] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
        res.unpersist_all()
        return out

    want = frames(run_image_plan(pixels, calib, CONTROLS))

    def refuse(*a, **k):
        raise AssertionError("collect or count job inside the plan")

    with monkeypatch.context() as m:
        m.setattr(ip, "_image_set", refuse)
        m.setattr(type(pixels), "count", refuse)
        res = run_image_plan(
            pixels, calib, CONTROLS, image_ids=["synth-00001", "synth-00000"]
        )
    got = frames(res)
    calib.unpersist()
    for n in names:
        pd.testing.assert_frame_equal(got[n], want[n], check_exact=True)


def _plan_and_batch(pixels, controls, writes: list) -> tuple:
    """run_image_plan and the shipped run_batch (csim included, a writer
    recording each output name) as two callables over the same inputs."""
    from xrddatapipeline_spark.streaming.pipeline import run_batch

    def batch(**kw):
        with run_batch(
            pixels, None, controls, lambda df, name: writes.append(name),
            lambda: cosine_similarity_series(pixels), **kw,
        ):
            pass

    return (lambda **kw: run_image_plan(pixels, None, controls, **kw)), batch


@pytest.mark.parametrize("barrier", ["hybrid-nopx", "persist"])
def test_retired_barrier_rejected_before_any_job(spark, barrier):
    """Only local_checkpoint / hybrid remain: the retired no-dense-cache
    and lazy persist routes are refused at the top of run_image_plan and
    run_batch, before a single Spark job or write (the image-set collect,
    the eager barriers and run_batch's csim would otherwise have run
    first)."""
    sc = spark.sparkContext
    group = f"retired-barrier-probe-{barrier}"
    pixels = images_long_df(
        spark, [("synth", 0, make_image(CONTROLS, seq=0))]
    )
    writes: list = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for build in _plan_and_batch(pixels, CONTROLS, writes):
            with pytest.raises(ValueError, match="unknown barrier"):
                build(barrier=barrier)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert writes == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("side", ["size_x", "size_y"])
def test_oversized_detector_rejected_before_any_job(spark, side):
    """The packed pixel key (img_idx << 26) | y*8192 + x needs both
    detector sides <= 8192: a wider or taller detector is refused at the
    top of run_image_plan and run_batch, before the image-set collect,
    any barrier or csim submits a job or a write."""
    import dataclasses

    sc = spark.sparkContext
    group = f"oversized-detector-probe-{side}"
    big = dataclasses.replace(CONTROLS, **{side: 8193})
    pixels = images_long_df(
        spark, [("synth", 0, make_image(CONTROLS, seq=0))]
    )
    writes: list = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for build in _plan_and_batch(pixels, big, writes):
            with pytest.raises(ValueError, match="8192 px per side"):
                build(barrier="local_checkpoint")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert writes == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_empty_batch_eager_plan_builds(spark):
    """Round-7 review: an empty pixel frame under an eager barrier yields
    n_images=0 — the h-maxima feed's explicit repartition must not be
    built with 0 partitions (plan-construction crash). Empty in, empty
    out, no exception."""
    from pyspark.sql import functions as F
    from xrddatapipeline_spark.calib.cache import build_calib_pixels
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan

    empty = images_long_df(
        spark, [("synth", 0, make_image(CONTROLS, seq=0))]
    ).where(F.lit(False))
    calib = build_calib_pixels(spark, CONTROLS)
    res = run_image_plan(empty, calib, CONTROLS, barrier="local_checkpoint")
    assert res.h_maxima.count() == 0
    assert res.integrals.count() == 0
    res.unpersist_all()


def _shuffle_exchange_outputs(df) -> list[list[tuple[str, str]]]:
    """Output attributes (name, type) of every non-broadcast shuffle
    exchange in the (possibly adaptive) physical plan. Lazy — inspects
    the pre-execution plan; no action is run."""
    seen: set[int] = set()
    outs: list[list[tuple[str, str]]] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "ShuffleExchange" in name and node.id() not in seen:
            seen.add(node.id())
            attrs = []
            it = node.output().iterator()
            while it.hasNext():
                a = it.next()
                attrs.append((a.name(), a.dataType().simpleString()))
            outs.append(attrs)
        if name.endswith("QueryStageExec"):
            walk(node.plan())
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return outs


def test_csim_window_exchange_ships_packed_narrow_rows(spark):
    """Pin the round-7 csim exchange narrowing (ca237b6): the dominant
    window-input exchange must ship exactly the packed 4-field rows —
    (dataset, seq, yx:bigint, intensity:int) — and NO shuffle exchange
    anywhere in the plan may carry the image_id string or unpacked y/x
    (image_id re-attaches post-agg from a broadcast; y/x ride inside
    yx). A refactor that silently reintroduces wide rows on the ~66 M-row
    exchange fails here, without needing a bench number."""
    imgs = [("synth", s, make_image(CONTROLS, seq=s)) for s in range(2)]
    pixels = images_long_df(spark, imgs)
    df = cosine_similarity_series(pixels)
    exchanges = _shuffle_exchange_outputs(df)
    assert exchanges, "csim plan lost its shuffle exchanges entirely?"

    window_ex = [ex for ex in exchanges if any(n == "yx" for n, _ in ex)]
    assert window_ex, "no exchange carries the packed yx column"
    for ex in window_ex:
        names = {n for n, _ in ex}
        # exactly the 4 narrow fields: no image_id string, no unpacked
        # y/x, and no duplicate double-cast of intensity (round-8 plan
        # test caught Catalyst planning a pre-window cast/alias BELOW
        # the exchange, shipping the value twice)
        assert names == {"dataset", "seq", "yx", "intensity"}, names
        types = dict(ex)
        assert types["yx"] == "bigint"
        assert types["intensity"] == "int"  # double cast is post-shuffle

    # image_id may only travel in the tiny (dataset, seq, image_id)
    # id-map exchanges — never alongside pixel-scale columns (the
    # fixture's own input repartition is not the operator's doing and
    # carries no packed columns)
    for ex in exchanges:
        names = {n for n, _ in ex}
        if "image_id" in names:
            assert not names & {"yx", "intensity"}, exchanges


def test_closed_form_calib_matches_calib_table(spark):
    """run_image_plan(calib=None) (closed-form geometry; lpx probe trimmed
    to intensity-only, round 9) must be bit-identical to the calib-table
    join path on every labeled/sparse output."""
    import pandas as pd

    from tests.fixtures_images import images_long_df, make_image
    from xrddatapipeline_spark.calib.cache import build_calib_pixels

    pixels = images_long_df(
        spark, [("synth", 0, make_image(CONTROLS, seq=0))]
    ).persist()
    pixels.count()
    calib = build_calib_pixels(spark, CONTROLS).persist()
    calib.count()
    outs = {}
    for name, cal in (("table", calib), ("closed", None)):
        res = run_image_plan(pixels, cal, CONTROLS, barrier="hybrid")
        outs[name] = {
            "lpx": res.labeled_pixels.orderBy("y", "x")
            .select("image_id", "y", "x", "label", "q", "azim",
                    "intensity", "qbin", "azim_flip").toPandas(),
            "label_table": res.label_table.orderBy("label").toPandas(),
            "integrals": res.integrals.orderBy("kind", "tth_idx").toPandas(),
            "spot_stats": res.spot_stats.orderBy("spot_stat_label").toPandas(),
        }
        res.unpersist_all()
    for frame in outs["table"]:
        # lpx/label_table: pure per-row expressions -> bit-exact.
        # integrals/spot_stats aggregate SUMS of doubles, and the two plan
        # shapes feed the partial aggregation in different row orders, so
        # the last ULP can differ — tolerance 1e-12, not exactness.
        exact = frame in ("lpx", "label_table")
        pd.testing.assert_frame_equal(
            outs["table"][frame].reset_index(drop=True),
            outs["closed"][frame].reset_index(drop=True),
            check_exact=exact,
            rtol=0 if exact else 1e-12,
            atol=0,
        )
    calib.unpersist()
    pixels.unpersist()


def test_warmup_job_submitted_once_per_session(spark, monkeypatch):
    """VERDICT r8 #7, closed driver-side in round 9: however many batches
    run_image_plan builds in one session, the kernel-warmup JOB is
    submitted at most once per (session, shape, component) — workers
    persist across batches, so resubmitting only occupies task slots.
    The h-maxima component alone trips the gate at >= 4 Mpx."""
    import threading

    from xrddatapipeline_spark.plans import image_pipeline as ip

    starts = []
    real_thread = threading.Thread

    class CountingThread(real_thread):
        def start(self):
            if self.name == "kernel-warmup":
                starts.append(self.name)
            super().start()

    monkeypatch.setattr("threading.Thread", CountingThread)
    ip._WARMUP_SUBMITTED.clear()

    # warmup gate needs >= 4 Mpx: a 2048^2 controls clone trips it; the
    # pixels stay the small fixture image, so each eager plan is cheap —
    # the thread submission happens at plan-build time
    import dataclasses
    big = dataclasses.replace(CONTROLS, size_x=2048, size_y=2048)
    pixels = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    for _ in range(3):
        run_image_plan(pixels, None, big).unpersist_all()
    assert len(starts) == 1, f"warmup thread started {len(starts)}x"


@pytest.mark.parametrize("grad", [False, True])
def test_fused_spottiness_matches_direct_formulation(spark, grad):
    """ADVICE r9: split_spottiness(fused) must equal the direct
    spottiness_per_qbin(px, om_pixels) — the fused path derives is_om from
    mask_flags, so this pins the 'flag table pixel set == om set'
    invariant the fusion rests on, with the gradient stage both off (flag
    table = labeled pixels) and on (flag table = gradient pixel_flags)."""
    from xrddatapipeline_spark.plans.image_pipeline import spottiness_per_qbin

    img = make_image(CONTROLS, seq=0)
    pixels = images_long_df(spark, [("synth", 0, img)])
    calib = build_calib_pixels(spark, CONTROLS).cache()
    res = run_image_plan(pixels, calib, CONTROLS, gradient_stage=grad)

    fused = res.spottiness.orderBy("qbin").toPandas()
    direct = (
        spottiness_per_qbin(res.pixels, res.om_pixels)
        .orderBy("qbin")
        .toPandas()
    )
    assert list(fused["qbin"]) == list(direct["qbin"])
    assert list(fused["n_total"]) == list(direct["n_total"])
    assert list(fused["n_masked"]) == list(direct["n_masked"])
    np.testing.assert_allclose(
        fused["frac_masked"], direct["frac_masked"], atol=1e-12
    )


def test_base_mask_honors_immask_and_predef_raster(spark):
    """Round-10 parity fix: controls.extra['immask'] (geometric record)
    and controls.extra['predef_mask'] (raster, the reference's .tif mask
    branch, cache_creation.py:239-246) must fold into base_mask — the CLI
    parsed them but the plan never consumed them."""
    from dataclasses import replace

    img = make_image(CONTROLS, seq=0)
    pixels = images_long_df(spark, [("synth", 0, img)])
    calib = build_calib_pixels(spark, CONTROLS).cache()

    predef = np.zeros((CONTROLS.size_y, CONTROLS.size_x), dtype=bool)
    predef[40:44, 100:140] = True
    c2 = replace(
        CONTROLS,
        extra={"immask": {"Xlines": [7], "Ylines": [11]},
               "predef_mask": predef},
    )

    plain = run_image_plan(pixels, calib, CONTROLS)
    masked = run_image_plan(pixels, calib, c2)
    b0 = (
        plain.pixels.select("y", "x", "base_mask")
        .toPandas()
        .set_index(["y", "x"])["base_mask"]
    )
    b1 = (
        masked.pixels.select("y", "x", "base_mask")
        .toPandas()
        .set_index(["y", "x"])["base_mask"]
    )
    extra = np.zeros_like(predef)
    extra |= predef
    extra[7, :] = True  # Xlines mask whole rows
    extra[:, 11] = True  # Ylines mask whole columns
    # toPandas order is not guaranteed: rebuild dense rasters by index
    d0 = np.zeros_like(predef)
    d0[b0.index.get_level_values(0), b0.index.get_level_values(1)] = (
        b0.to_numpy()
    )
    d1 = np.zeros_like(predef)
    d1[b1.index.get_level_values(0), b1.index.get_level_values(1)] = (
        b1.to_numpy()
    )
    assert np.array_equal(d1, d0 | extra)
    plain.unpersist_all()
    masked.unpersist_all()


def test_warmup_missing_component_tracking():
    """A gradient-off plan after a gradient-on warmup submits NOTHING:
    components are tracked per (session, shape), not per stage set."""
    from xrddatapipeline_spark.plans.image_pipeline import _warmup_missing

    base = ("app-1", (520, 2880), (2880, 2880))
    submitted: set = set()
    first = _warmup_missing(base, bands=True, submitted=submitted)
    assert first == {"bands", "hmax"}
    submitted.update((base, p) for p in first)
    # the gradient-off plan's needs are a subset of what's already warm
    assert _warmup_missing(base, False, submitted) == frozenset()
    # a new session (different base) starts cold again, h-maxima always
    base2 = ("app-2", (520, 2880), (2880, 2880))
    assert _warmup_missing(base2, False, submitted) == {"hmax"}
    # gradient-on after gradient-off warms just the missing component
    assert _warmup_missing(base2, True, {(base2, "hmax")}) == {"bands"}


def _gap_scan_numpy(values, wrap_threshold=359.0, min_gap=10.0):
    """Independent transcription of the reference's wraparound recompute
    (classification.py:659-666): triggered by raw extent > threshold,
    extent = 360 - first consecutive sorted gap > min_gap."""
    v = np.sort(np.asarray(values, dtype=float))
    raw = float(v[-1] - v[0])
    if raw <= wrap_threshold:
        return raw, raw
    diffs = v[1:] - v[:-1]
    idx = np.argwhere(diffs > min_gap)
    if len(idx) == 0:  # reference would raise; operator keeps raw
        return raw, raw
    return raw, float(360.0 - diffs[idx[0][0]])


def test_wrapped_extent_gap_scan_matches_reference_transcription(spark):
    """W5 operator vs an independent numpy transcription, covering: a
    wrapped label with one gap, a wrapped label with MULTIPLE >10-degree
    gaps (first-gap semantics — max-gap or last-gap would differ), an
    unwrapped label (raw extent passthrough), and duplicate azimuths
    (zero gaps must not qualify)."""
    from xrddatapipeline_spark.plans.image_pipeline import (
        wrapped_extent_gap_scan,
    )

    labels = {
        # wrap, single big gap: runs near 0 and near 360
        0: [i / 16.0 for i in range(0, 96)]
        + [i / 16.0 for i in range(5664, 5760)],
        # wrap, two gaps > 10 deg: first (at ~4 deg) must win
        1: [i / 16.0 for i in range(0, 64)]
        + [i / 16.0 for i in range(2000, 2064)]
        + [i / 16.0 for i in range(5696, 5760)],
        # no wrap: raw extent passes through
        2: [i / 16.0 for i in range(1600, 1800)],
        # duplicates: repeated azimuths produce 0-gaps, never qualify
        3: [0.0, 0.0, 0.0625, 359.9375, 359.9375],
    }
    rows = [
        ("img", lab, az) for lab, vals in labels.items() for az in vals
    ]
    lpx = spark.createDataFrame(rows, "image_id string, label int, azim double")
    got = {
        r["label"]: (r["extent_raw"], r["extent"])
        for r in wrapped_extent_gap_scan(lpx).collect()
    }
    for lab, vals in labels.items():
        want = _gap_scan_numpy(vals)
        assert got[lab] == pytest.approx(want, abs=0.0), (lab, got[lab], want)
    # pin the first-gap disagreement case numerically: label 1's first
    # sorted gap is (2000-63)/16 deg -> extent 360 - 121.0625
    assert got[1][1] == pytest.approx(360.0 - (2000 - 63) / 16.0, abs=0.0)
    assert got[1][1] != pytest.approx(360.0 - (5696 - 2063) / 16.0, abs=1e-9)


def test_wrapped_extent_gap_scan_no_qualifying_gap_keeps_raw(spark):
    """A label above the wrap threshold but with every gap <= min_gap
    keeps its raw extent (the reference would raise on argwhere[0] of an
    empty array; the operator is total — see the docstring)."""
    from xrddatapipeline_spark.plans.image_pipeline import (
        wrapped_extent_gap_scan,
    )

    # 0, 9, 18, ..., 359.955: raw extent > 359 but all gaps are 9 deg
    vals = [i * 9.0 / 16.0 for i in range(0, 640)]
    lpx = spark.createDataFrame(
        [("img", 0, v) for v in vals],
        "image_id string, label int, azim double",
    )
    row = wrapped_extent_gap_scan(lpx).collect()[0]
    assert row["extent_raw"] > 359.0
    assert row["extent"] == row["extent_raw"]


def test_classifier_mask_flags_matches_inline_branch(spark):
    """classifier_mask_flags (extracted round 13 so the image_plan_spine
    anchor drives run_image_plan's own non-gradient branch) produces one
    flag row per labeled pixel with spot/arc membership following the
    label verdict."""
    from xrddatapipeline_spark.plans.image_pipeline import (
        classifier_mask_flags,
    )

    lpx = spark.createDataFrame(
        [("i", 1, 0, 0), ("i", 1, 0, 1), ("i", 2, 5, 5)],
        "image_id string, label int, y int, x int",
    )
    ltab = spark.createDataFrame(
        [("i", 1, 2), ("i", 2, 1)], "image_id string, label int, classifier int"
    )
    rows = {
        (r["y"], r["x"]): (r["is_om"], r["is_spot_px"], r["is_arc_px"])
        for r in classifier_mask_flags(lpx, ltab).collect()
    }
    assert rows == {
        (0, 0): (True, False, True),
        (0, 1): (True, False, True),
        (5, 5): (True, True, False),
    }


def test_h_maxima_bigint_routes_unpacked_and_exact(spark):
    """Round-12 ADVICE: the packed int64 feed stores intensity + 2^31 in
    a 32-bit low field, so a bigint >= 2^31 would carry into the yx bits
    and one < -2^31 would be dropped as the sentinel. bigint now routes
    UNPACKED. Pin both halves: (a) identical values as int (packed) and
    bigint (unpacked) count identically — the pack is lossless where
    both routes are legal; (b) a value >= 2^31 survives the bigint route
    exactly (compared against the same values as double, the layout that
    always was unpacked; both take the float64 kernel since the value is
    far above the 2^24 float32 gate)."""
    import dataclasses

    from pyspark.sql import functions as F
    from xrddatapipeline_spark.plans.image_pipeline import h_maxima_per_qbin

    c = dataclasses.replace(CONTROLS, size_x=32, size_y=32)
    blob = [
        ("i", 5, 5, 100), ("i", 5, 6, 50), ("i", 6, 5, 50),
        ("i", 12, 20, 80), ("i", 12, 21, 40), ("i", 25, 9, 60),
    ]
    spot = spark.createDataFrame(
        [("i", 5, 5)], "image_id string, y int, x int"
    )

    def px(rows, itype):
        df = spark.createDataFrame(
            [(i, y, x, v, y % 4) for (i, y, x, v) in rows],
            "image_id string, y int, x int, intensity long, qbin int",
        )
        return df.withColumn("intensity", F.col("intensity").cast(itype))

    def counts(df):
        return (
            h_maxima_per_qbin(df, spot, c)
            .toPandas()
            .sort_values("qbin")
            .reset_index(drop=True)
        )

    # (a) packed int vs unpacked bigint: identical values, identical counts
    a_int, a_big = counts(px(blob, "int")), counts(px(blob, "bigint"))
    assert a_int.equals(a_big), (a_int, a_big)
    # (b) a >= 2^31 value through the bigint route matches the double route
    huge = blob + [("i", 20, 20, 2**31 + 7)]
    b_big, b_dbl = counts(px(huge, "bigint")), counts(px(huge, "double"))
    assert list(b_big["n_maxima"]) == list(b_dbl["n_maxima"])
    assert list(b_big["n_spot_maxima"]) == list(b_dbl["n_spot_maxima"])
    # the huge pixel dominates the h threshold (h = 0.05 * p99.9) and is
    # the surviving maximum; the old packed layout corrupted its
    # coordinates and intensity (2^31 + 7 wraps the 32-bit low field)
    assert b_big["n_maxima"].sum() >= 1


def _ltab_fixture(spark, labels):
    """lpx frame for label_table_from: one row per azimuth value with the
    flip column computed the way labeled_pixels_frame does, q constant
    per label (diff_q = 0 keeps the classifier out of the way)."""
    from pyspark.sql import functions as F

    rows = [
        ("img", lab, az) for lab, vals in labels.items() for az in vals
    ]
    return (
        spark.createDataFrame(rows, "image_id string, label int, azim double")
        .withColumn("azim_flip", F.pmod(F.col("azim") + 180.0, F.lit(360.0)))
        .withColumn("q", F.lit(2.0))
    )


def test_label_table_gap_mode_is_reference_exact(spark):
    """wrap_mode='gap' (round 13) reproduces the reference's recompute
    (classification.py:659-666) per the numpy transcription, agrees with
    'flip' on single-gap zero-crossing arcs and plain labels, and
    diverges from it exactly where the formulations differ (multi-gap
    wrapped labels; <=359-degree zero-spanning labels below the
    trigger)."""
    from xrddatapipeline_spark.plans.image_pipeline import label_table_from

    labels = {
        # single-gap wrap: both modes -> the true ~12.06-deg hull
        0: [i / 16.0 for i in range(0, 97)]
        + [i / 16.0 for i in range(5664, 5760)],
        # multi-gap wrap: gap takes 360 - FIRST gap, flip takes the
        # tightest mirrored hull -> they must disagree
        1: [i / 16.0 for i in range(0, 64)]
        + [i / 16.0 for i in range(2000, 2064)]
        + [i / 16.0 for i in range(5696, 5760)],
        # mid-range label: raw extent passes through in both modes
        2: [i / 16.0 for i in range(1600, 1800)],
        # spans zero but raw extent == 359.0 <= trigger: gap mode keeps
        # the raw extent (reference semantics), flip sees the ~15.25-deg
        # hull — documented divergence below the >359 trigger
        3: [i / 16.0 for i in range(0, 100)] + [359.0 * 1.0],
    }
    lpx = _ltab_fixture(spark, labels)
    # the fixture's constant q makes diff_q exactly 0 on >100-px labels
    # with azim extent > 3.5 — the reference's numpy divide reads inf >
    # threshold -> ARC; before round 13 the Spark classifier divided and
    # ANSI mode (Spark 4 default) raised DIVIDE_BY_ZERO here. The
    # cross-multiplied form must both not raise and classify as arc.
    cls = {
        r["label"]: r["classifier"]
        for r in label_table_from(lpx, wrap_mode="flip").collect()
    }
    assert cls[0] == 2 and cls[2] == 2
    flip = {
        r["label"]: r["diff_azim"]
        for r in label_table_from(lpx, wrap_mode="flip").collect()
    }
    gap = {
        r["label"]: r["diff_azim"]
        for r in label_table_from(lpx, wrap_mode="gap").collect()
    }
    for lab, vals in labels.items():
        want = _gap_scan_numpy(vals)[1]
        assert gap[lab] == pytest.approx(want, abs=0.0), (lab, gap[lab], want)
    assert gap[0] == pytest.approx(flip[0], abs=0.0)
    assert gap[2] == pytest.approx(flip[2], abs=0.0)
    assert gap[1] != pytest.approx(flip[1], abs=1e-9)
    assert gap[3] == pytest.approx(359.0, abs=0.0)
    assert flip[3] < 20.0
    with pytest.raises(ValueError):
        label_table_from(lpx, wrap_mode="mirror")


def test_label_table_gap_mode_random_sweep_vs_transcription(spark):
    """Seeded randomized sweep: 60 labels of random azimuth multisets
    (including duplicates and single-value labels) through
    wrap_mode='gap' must match the numpy transcription of the
    reference recompute exactly — values live on the 1/16-degree grid
    so sorting/diffing is float-exact in both implementations."""
    from xrddatapipeline_spark.plans.image_pipeline import label_table_from

    rng = np.random.default_rng(1307)
    labels = {}
    for lab in range(60):
        n = int(rng.integers(1, 80))
        # mix of clustered runs and uniform scatter, sixteenth grid
        if lab % 3 == 0:
            starts = rng.integers(0, 5760, size=3)
            vals = [
                int((s + j) % 5760) / 16.0
                for s in starts
                for j in range(max(1, n // 3))
            ]
        else:
            vals = [int(v) / 16.0 for v in rng.integers(0, 5760, size=n)]
        labels[lab] = vals
    lpx = _ltab_fixture(spark, labels)
    got = {
        r["label"]: r["diff_azim"]
        for r in label_table_from(lpx, wrap_mode="gap").collect()
    }
    for lab, vals in labels.items():
        want = _gap_scan_numpy(vals)[1]
        assert got[lab] == pytest.approx(want, abs=0.0), (lab, got[lab], want)


def test_csim_blank_frame_yields_null_not_crash(spark):
    """Round 13 ANSI guard: a blank (all-zero) detector frame has zero
    norm, and under Spark 4's default ANSI mode the csim division
    killed the whole series with DIVIDE_BY_ZERO. Pairs involving the
    blank frame now read NULL (the reference's numpy reads nan); every
    other pair is bit-unchanged."""
    imgs = [("synth", s, make_image(CONTROLS, seq=s)) for s in range(2)]
    blank = np.zeros_like(imgs[0][2])
    pixels = images_long_df(spark, imgs + [("synth", 2, blank)])
    pdf = cosine_similarity_series(pixels).orderBy("seq").toPandas()
    assert len(pdf) == 3
    # seq 2 is blank: both similarities NULL; seq 0/1 unaffected
    assert pdf.csim_first.iloc[2] is None or np.isnan(pdf.csim_first.iloc[2])
    assert pdf.csim_prev.iloc[2] is None or np.isnan(pdf.csim_prev.iloc[2])
    assert pdf.csim_first.iloc[0] == pytest.approx(1.0, rel=1e-12)
    assert pdf.csim_prev.iloc[1] == pytest.approx(pdf.csim_first.iloc[1], rel=1e-12)
