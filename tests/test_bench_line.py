"""bench.py published-line contract: the driver captures only a ~2000-char
stdout tail and parses the LAST JSON line from it — BENCH_r08 recorded
"parsed": null when diagnostics outgrew the capture. These tests pin the
budget and the shed order without starting Spark."""

import json

import bench


def _fake_out(n_queries=23, with_keepup=True):
    out = {
        "metric": "headline_queries_total",
        "value": 25.95,
        "unit": "sec",
        "queries": {f"query_name_{i:02d}_padded": 1.2345 for i in range(n_queries)},
        "sf": 0.1,
    }
    if with_keepup:
        out["xrd_image_plan_2880"] = {
            "img_size": 2880, "out_channels": 2500, "esd_mul": 3.0,
            "batch": 8, "gradient_stage": True,
            "batch_sec": 111.05, "warm_batches_sec": [78.8, 111.0, 146.7],
            "warm_spread_sec": [78.8, 146.7], "cold_batch_sec": 128.3,
            "px_build_sec": 9.3, "sec_per_image": 13.88,
            "images_per_sec": 0.072,
            "pilot_sec": 11.9,
            "prep_sec": 40.2,
            "profiles_path": "/root/repo/BENCH_PROFILES.json",
            "hoff_sec_per_image": 10.87, "sec_per_image_best": 9.85,
            "core_sec_per_image": 208.3, "core_cpu_sec_per_image": 102.4,
            "h_split_arm": 1.187, "h_split_arm_cpu": 1.153,
            "h_split_arm_batches": [1.213, 1.162],
            "weather_warm": [1.0, 2.31, 1.12],
        }
    return out


def test_realistic_line_fits_budget_shedding_only_sidecar_lists():
    out = _fake_out()
    line = bench.compact_line(out)
    assert len(line) <= bench.LINE_BUDGET
    d = json.loads(line)
    k = d["xrd_image_plan_2880"]
    # at realistic sizes only the per-batch diagnostic LISTS may shed —
    # they are duplicated in the BENCH_PROFILES sidecar; every scalar
    # diagnostic survives
    for key in ("core_cpu_sec_per_image", "prep_sec",
                "pilot_sec", "px_build_sec", "cold_batch_sec",
                "profiles_path", "images_per_sec"):
        assert key in k, key
    for key in ("h_split_arm", "h_split_arm_cpu"):
        assert key in k, key
    # round 13 (r12 verdict #5): the legacy whole-batch h estimators are
    # gone from the published line — h_split_arm is the only h metric,
    # and bench.py must not re-grow a publisher for them
    assert not any(key.startswith("h_legacy") for key in k)
    import inspect

    src = inspect.getsource(bench)
    assert '"h_legacy' not in src
    # every bench path runs the shipped batch assembly (run_batch), never
    # its own copy of the plan + sinks
    assert "run_image_plan(" not in src
    assert "write_core_outputs" not in src


def test_oversized_line_sheds_diagnostics_not_metrics():
    out = _fake_out()
    # blow the budget: a pathological profiles path
    out["xrd_image_plan_2880"]["profiles_path"] = "/x" * 700
    line = bench.compact_line(out)
    assert len(line) <= bench.LINE_BUDGET
    d = json.loads(line)
    k = d["xrd_image_plan_2880"]
    # the metrics the round is graded on are never shed
    for key in ("sec_per_image", "batch_sec", "sec_per_image_best",
                "core_sec_per_image",
                "h_split_arm", "h_split_arm_cpu"):
        assert key in k, key
    assert d["value"] == 25.95 and len(d["queries"]) == 23


def test_profile_sessions_no_clobber():
    """Two runs leave both sessions in the sidecar (round-11 VERDICT #3)."""
    s1 = bench._merge_profile_sessions(None, "r1", {"warm": [{"wall_sec": 1}]})
    assert set(s1) == {"r1"}
    s2 = bench._merge_profile_sessions(s1, "r2", {"hoff": [{"wall_sec": 2}]})
    assert set(s2) == {"r1", "r2"}
    assert s2["r1"]["warm"] == [{"wall_sec": 1}]
    # same-tag collision: second run survives under a suffixed tag
    s3 = bench._merge_profile_sessions(s2, "r2", {"warm": []})
    assert set(s3) == {"r1", "r2", "r2+"}


def test_profile_sessions_wraps_legacy_layout():
    legacy = {"prep": [{"wall_sec": 40.0}], "warm": [{"wall_sec": 90.0}]}
    merged = bench._merge_profile_sessions(legacy, "new", {"warm": []})
    assert set(merged) == {"legacy", "new"}
    assert merged["legacy"]["warm"] == [{"wall_sec": 90.0}]


def test_profile_sessions_retention_cap():
    sessions = None
    for i in range(25):
        sessions = bench._merge_profile_sessions(sessions, f"t{i:02d}", {})
    assert len(sessions) == 20
    assert "t24" in sessions and "t04" not in sessions


def test_extreme_case_rounds_queries_last():
    out = _fake_out(n_queries=60)
    out["xrd_image_plan_2880"]["profiles_path"] = "/x" * 700
    line = bench.compact_line(out, budget=1200)
    d = json.loads(line)
    # last resort reached: query values rounded to 2 decimals
    assert all(v == 1.23 for v in d["queries"].values())


def test_geomean_cancels_half_asymmetry():
    """With alternating halves, geomean((A_on/B_off),(B_on/A_off)) depends
    only on the true h cost, not on which half is heavier: A twice B's
    work, h multiplies cost by 1.2 -> geomean is exactly 1.2."""
    a_on, b_off = 2.0 * 1.2, 1.0
    b_on, a_off = 1.0 * 1.2, 2.0
    assert bench._geomean([a_on / b_off, b_on / a_off]) == 1.2
    # arithmetic mean would NOT: (2.4 + 0.6)/2 = 1.5
    assert (a_on / b_off + b_on / a_off) / 2 != 1.2


def test_realistic_shed_keeps_warm_batches():
    """warm_batches_sec (quoted in every round's verdict) outlives the
    sidecar-duplicated lists in the shed order."""
    out = _fake_out()
    d = json.loads(bench.compact_line(out))
    assert "warm_batches_sec" in d["xrd_image_plan_2880"]


def _stage(sid, run_ms, name="barrier:foo", cpu_ns=0, attempt=0):
    return {"stageId": sid, "attemptId": attempt, "name": name,
            "executorRunTime": run_ms, "executorCpuTime": cpu_ns}


def test_split_attribution_by_job_group():
    jobs = [
        {"jobId": 1, "jobGroup": "split:on", "stageIds": [10, 11]},
        {"jobId": 2, "jobGroup": "split:off", "stageIds": [20]},
        {"jobId": 0, "jobGroup": "split:on", "stageIds": [5]},   # pre-batch
        {"jobId": 3, "jobGroup": None, "stageIds": [30]},        # untagged
    ]
    stages = [
        _stage(10, 4000, "barrier:px", cpu_ns=2e9),
        _stage(11, 1000, "out:h_maxima"),
        _stage(20, 5000, "barrier:px"),
        _stage(5, 9000),   # pre-batch stage: jobId 0 filtered out
        _stage(30, 7000),  # untagged job's stage: ignored
    ]
    got = bench._attribute_split_stages(jobs, stages, {0}, set())
    on, off = got["split:on"], got["split:off"]
    assert (on["run"], on["cpu"], on["px"]) == (5.0, 2.0, 4.0)
    assert (off["run"], off["cpu"], off["px"]) == (5.0, 0.0, 5.0)
    assert got["ambiguous"] == 0
    # per-arm top stages, run-time ordered
    assert on["top"] == [["barrier:px", 4.0, 2.0], ["out:h_maxima", 1.0, 0.0]]
    assert off["top"] == [["barrier:px", 5.0, 0.0]]


def test_split_attribution_excludes_ambiguous_and_done():
    jobs = [
        {"jobId": 1, "jobGroup": "split:on", "stageIds": [10, 99]},
        {"jobId": 2, "jobGroup": "split:off", "stageIds": [20, 99]},
    ]
    stages = [
        _stage(10, 1000), _stage(20, 2000),
        _stage(99, 50000),            # listed by BOTH arms -> excluded
        _stage(10, 8000, attempt=1),  # already in done -> excluded
    ]
    got = bench._attribute_split_stages(jobs, stages, set(), {(10, 1)})
    assert got["split:on"]["run"] == 1.0
    assert got["split:off"]["run"] == 2.0
    assert got["ambiguous"] == 1


def test_split_attribution_rejects_empty_arm():
    jobs = [{"jobId": 1, "jobGroup": "split:on", "stageIds": [10]}]
    stages = [_stage(10, 1000)]
    assert bench._attribute_split_stages(jobs, stages, set(), set()) is None


def test_split_stall_hit_rule():
    """Round-12 auto-extension trigger: fires on a run-vs-cpu detach
    (the memory-stall signature) or an outright blown ratio; stays quiet
    on the r12 measured clean/contended band (1.026-1.237 with cpu in
    step), including when the cpu tier failed to capture."""
    # clean: run and cpu tiers in step
    assert not bench.split_stall_hit({"ratio_run": 1.086, "ratio_cpu": 1.056})
    # the r12 session's hottest real batch: 1.237/1.186 — in step, no fire
    assert not bench.split_stall_hit({"ratio_run": 1.237, "ratio_cpu": 1.186})
    # stall: run detaches >0.2 from cpu (the 181.6-core-s record shape)
    assert bench.split_stall_hit({"ratio_run": 1.35, "ratio_cpu": 1.05})
    # blown outright, even with cpu missing
    assert bench.split_stall_hit({"ratio_run": 1.45, "ratio_cpu": None})
    assert bench.split_stall_hit({"ratio_run": 1.498, "ratio_cpu": 1.31})
    # missing cpu alone is not a stall signal below the outright bar
    assert not bench.split_stall_hit({"ratio_run": 1.2, "ratio_cpu": None})


def test_should_extend_splits_decision():
    """Extension fires only on an even, fully-captured base with at
    least one stall-signature batch — and appends an EVEN count, so the
    geomean pairing survives the extension."""
    clean = {"ratio_run": 1.05, "ratio_cpu": 1.03}
    stall = {"ratio_run": 1.45, "ratio_cpu": 1.1}
    # the r12 two-session record: all batches in step, no extension
    assert not bench.should_extend_splits([clean] * 4, 4)
    # one stall batch in a clean even base: extend
    assert bench.should_extend_splits([clean, clean, stall, clean], 4)
    # odd base: never extend (the operator mis-set SPLIT_REPS; warned)
    assert not bench.should_extend_splits([clean, stall, clean], 3)
    # a dropped batch (failed capture) suppresses extension
    assert not bench.should_extend_splits([clean, stall, clean], 4)
