"""Registry workload: one pass over bench.HEADLINE's registry queries.

Same session conf as ``bench.py`` (``hugeMethodLimit`` 3000). The timed
pass runs the queries four in flight and collects each one's rows; after
the pass the rows are checked against DuckDB through
``tests/oracle_harness.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import probe

FAMILIES = {
    "relational": ("tpch_q1_pricing", "tpch_q5ish_regional_volume",
                   "tpch_q14_promo_share"),
    "xrd_ops": ("a1_integrate_binned_mean", "a2_ring_median_mad",
                "a9_shape_classifier", "a11_central_band_percentile",
                "w1_lag_first_pairing", "w5_circular_gap_scan"),
    "text_dedup": ("dedup_exact_hash", "dedup_minhash_pairs", "dedup_simhash",
                   "text_fingerprint_winnow", "text_tfidf_top_terms",
                   "docs_length_deciles"),
    "similarity": ("dedup_embedding_cosine", "ann_bruteforce_topk",
                   "ann_lsh_bucketed", "emb_kmeans_update"),
    "events": ("events_trailing_hour_stats", "events_rollup_grouping"),
    "multimodal": ("mm_decode_features",),
}
#: mismatches that reproduce on every run and are left for a later fix;
#: they still count as failed, but do not mark the run incorrect
KNOWN_DEFECTS = {
    "tpch_q5ish_regional_volume":
        "last-ulp double sum at sf0.1 (passes at sf0.01)",
}


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1"))


def run(ctx) -> dict:
    from bench import HEADLINE
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY
    from xrddatapipeline_spark.session import get_spark

    data = sf_dir()
    if not os.path.isdir(data):
        raise RuntimeError(f"registry data not found at {data} "
                           "(set SPARK_GRAFT_SF_DIR)")
    names = [n for n in HEADLINE if n in REGISTRY]
    spans = ctx.spans
    with spans.span("session.get_spark"):
        spark = get_spark(
            app_name="xrdspark-bench", master=f"local[{ctx.cpus}]",
            shuffle_partitions=ctx.cpus,
            extra_conf={"spark.sql.codegen.hugeMethodLimit": "3000",
                        **ctx.conf})
        spark.sparkContext.setLogLevel("ERROR")

    # One pass, a closed loop of ctx.cpus clients: each thread starts the
    # next query when its last one returns. The pass is cold (each query
    # compiles on first use) and collects every query's rows for the
    # DuckDB check. A warm-up pass would add ~35 s to every run, and 22
    # runs per workload must fit the benchmark's time budget.
    def collect(name):
        with spans.span(f"registry.{name}"):
            try:
                return REGISTRY[name].spark(spark, data).toPandas()
            except Exception as e:  # noqa: BLE001 - counted as failed
                return e

    t_pass = time.time()
    ctx.first_timed_unit(t_pass)
    with ThreadPoolExecutor(ctx.cpus) as pool:
        rows = dict(zip(names, pool.map(collect, names)))
    window = (t_pass, time.time())
    ctx.end_timed()
    pass_s = window[1] - window[0]

    mismatched = _check(rows, names, REGISTRY, data, ctx)
    result = {
        "attempted": len(names),
        "correct": set(mismatched) <= set(KNOWN_DEFECTS),
        "failures": [f"{n}: {err}"
                     + (" (known defect)" if n in KNOWN_DEFECTS else "")
                     for n, err in sorted(mismatched.items())],
        "samples": {"latency_s": 1},
        "query_pass_s": pass_s,
        "metrics": {"latency_s": pass_s},
    }
    if ctx.trace:
        (_, a, b), = spans.of("session.get_spark")
        layers = result["layers"] = {"trace.latency_s": pass_s,
                                     "session.get_spark_s": b - a}
        per_query = {name[len("registry."):]: b - a
                     for name, a, b in spans.of("registry.")}
        for name in names:
            layers[f"registry.{name}_s"] = per_query[name]
        for fam, members in FAMILIES.items():
            layers[f"registry.{fam}_s"] = sum(per_query[n] for n in members)
        ctx.after_stop(lambda: layers.update(_attribute(ctx, window)))
    ctx.weather(spark)
    return result


def _check(rows, names, registry, data, ctx) -> dict[str, str]:
    """Exact DuckDB comparison of the collected rows (rtol 0). DuckDB's
    answers depend only on the data and the SQL, so they are cached in the
    work root, keyed by both."""
    from oracle_harness import compare_frames, run_oracle

    bad = {}
    for name in names:
        got = rows[name]
        if isinstance(got, Exception):
            bad[name] = f"raised {got!r}"
            continue
        sql = registry[name].oracle
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        stamp = json.dumps([sql, data] + sorted(
            (f, os.path.getsize(os.path.join(data, f)))
            for f in os.listdir(data)))
        cache = os.path.join(ctx.root_work, "oracle",
                             hashlib.sha256(stamp.encode()).hexdigest() + ".pkl")
        if os.path.exists(cache):
            with open(cache, "rb") as f:
                want = pickle.load(f)
        else:
            want = run_oracle(sql, data)
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache + ".tmp", "wb") as f:
                pickle.dump(want, f)
            os.replace(cache + ".tmp", cache)
        errs = compare_frames(got, want, rtol=0.0)
        if errs:
            bad[name] = errs[0]
    ctx.log(f"checked {len(names)} queries against DuckDB: "
            f"{len(bad)} mismatched {bad}")
    return bad


def _attribute(ctx, window) -> dict:
    jobs, stages = probe.read_event_log(ctx.event_dir)
    pjobs = probe.in_window(jobs, *window)
    ids = {s for j in pjobs for s in j["stages"]}
    return {
        "spark.jobs_per_pass": len(pjobs),
        "shuffle_write_mb_per_pass": sum(
            s["shuffle_write_mb"] for s in stages if s["id"] in ids),
    }
