"""SparkSession factory with scale-minded defaults.

Settings chosen for the 100 TB design point and safe on local[N]:

- AQE on (runtime coalescing, skew-join splitting) — at cluster scale the
  per-image groupBys and the LSH band joins are skew-prone.
- Arrow enabled for the pandas-UDF kernel layer; batch size sized so one
  detector image's pixel group (8.3 M rows, ~5 numeric cols) fits a few
  Arrow batches without blowing executor memory.
- Shuffle partitions default to cores on local mode; on a real cluster this
  is expected to be overridden (or left to AQE coalescing from a higher
  initial value).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle used by the correctness gate.
- codegen.hugeMethodLimit is left at Spark's default (65535) because the
  design point is BIG partitions, where JIT-compiling the wide fused
  projections pays for itself: at 8.3 Mpx/image the full plan measures
  29-36 s with the default vs 43-45 s with limit 3000. For SMALL-batch /
  interactive jobs the tradeoff inverts (compile time dominates: minhash
  at sf0.1 cold 12.4 s -> 6.3 s, image plan at 1 Mpx 15.3 -> 10.4 s with
  limit 3000) — pass extra_conf={"spark.sql.codegen.hugeMethodLimit":
  "3000"} there, as bench.py does for its sf0.1 queries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xrddatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Python workers (pandas UDF kernels) must be able to import this
    # package regardless of the caller's cwd; on a real cluster the package
    # ships as a wheel/zip via --py-files — locally PYTHONPATH covers it.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    # Pin glibc's mmap threshold for the Python workers: the numpy raster
    # kernels allocate ~100 MB of large temporaries per call, and glibc's
    # DYNAMIC mmap threshold serves those from fresh mmap'd pages until its
    # ramp-up learns better — every cold call pays page-fault + zeroing for
    # the full temp set, which measured 9.5 s vs 0.9 s per band kernel under
    # 24-way concurrency (32-core host, 8 x 2880^2 batch). A fixed 64 MB
    # threshold serves the temps from the reused heap from the first call.
    # Both thresholds stay pinned (round 3, STATUS.md: 183 s per batch vs
    # 443 s untuned and 546 s with only the mmap threshold pinned); a
    # caller's own MALLOC_*_THRESHOLD_ wins. Workers inherit the driver
    # env in local mode; executorEnv covers a real cluster.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "67108864")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")

    builder = (
        SparkSession.builder.appName(app_name).master(master)
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            os.environ["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            os.environ["MALLOC_TRIM_THRESHOLD_"],
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Shuffle writer (round 14): always take the serialized-sort path
        # (UnsafeShuffleWriter), never BypassMergeSortShuffleWriter. The
        # bypass writer opens one stream PER REDUCE PARTITION per map task
        # (M x R tiny file creates + a concat pass); it only triggers when
        # partitions <= 200 — i.e. never at production partition counts —
        # so local/small-N runs were exercising a different (and, on this
        # host's filesystem, pathologically slow) writer than production.
        # Measured on the bench host (32-way, 32 shuffle partitions, warm
        # min-of-3, same session shape): a trivial repartition+agg's map
        # stage 14.7 -> 0.5 run core-s, shuffle write time 9.0 s -> 13 ms;
        # headline-bench total (interleaved A/B) ~2x. One output file per
        # map task is also the right shape at scale (guide §2.2). A
        # perfbench re-check at local[4] (5 alternating pairs per
        # workload, CHANGES.md) had the bypass writer ahead in 8 of 10
        # pairs by 4-7% in median: not every pair, so the setting stays.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
