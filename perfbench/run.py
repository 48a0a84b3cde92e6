"""Benchmark of the shipped XRD pipeline and the registry query layer.

    python3 perfbench/run.py --workload stream_512x1 --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json for why each
was chosen):

- ``stream_512x1``: 512^2 TIFF frames through ``StreamingImagePipeline``,
  one frame per trigger, shipped defaults (gradient stage off);
- ``registry_sf0.1``: one pass over ``bench.HEADLINE``'s registry queries
  on the sf0.1 corpus (``$SPARK_GRAFT_SF_DIR``, default ``~/testdata/sf0.1``).

Inputs are made from ``--seed`` before anything is timed. ``--seconds``
sets the stream's timed batches (one per 10 s, at least one); the registry
always times one pass. The last stdout line is the result JSON; the line
before it carries what is not a gated metric: sample counts, failures by
name, ``failed_share``, ``peak_rss_mb`` and host weather (two canaries and
the CPU steal share). ``--trace 1`` turns on the Spark event log and spans
around the public calls and prints the per-layer metrics instead.
Scratch files go under ``$CARGO_TARGET_DIR/perfbench`` (default
``.bench_build``) and are removed at exit, except the cached DuckDB answers.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4

#: workload name -> the perfbench module that runs it
WORKLOADS = {"stream_512x1": "stream", "registry_sf0.1": "registry"}


def declared() -> tuple[dict[str, str], list[str]]:
    """({name: unit} of every metric, per-layer names) from BENCHMARK.json,
    the one place metrics are declared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return units, [m["name"] for m in spec["per_layer"]]


class Context:
    def __init__(self, args) -> None:
        from perfbench import probe

        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.cpus = CPUS
        self.root_work = os.path.join(
            ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
        self.work = os.path.join(self.root_work, f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.event_dir = os.path.join(self.work, "events")
        self.spans = probe.Spans()
        self.conf: dict[str, str] = {}
        if self.trace:
            os.makedirs(self.event_dir)
            self.conf = {"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.event_dir}
        self.rss = probe.TreeRss()
        self.cpu_ticks = probe.cpu_ticks()
        self.excluded = 0.0
        self.setup_s: float | None = None
        self.host: dict[str, float] = {}
        self._after_stop = []

    def exclude_from_setup(self, seconds: float) -> None:
        self.excluded += seconds

    def first_timed_unit(self, epoch_s: float) -> None:
        self.setup_s = epoch_s - T_START - self.excluded

    def end_timed(self) -> None:
        """Stop the RSS sampler (the checks that follow are not the
        program's memory) and record the CPU steal share up to here."""
        from perfbench import probe

        self.rss.stop()
        total, steal = (b - a for a, b in zip(self.cpu_ticks, probe.cpu_ticks()))
        self.host["steal_share"] = steal / max(total, 1)

    def weather(self, spark) -> None:
        from perfbench import probe

        self.host["jvm_canary_s"] = probe.jvm_canary_s(spark, self.cpus)
        self.host["py_canary_s"] = probe.py_canary_s(spark, self.cpus)
        self.log(f"host canaries {self.host}")

    def after_stop(self, fn) -> None:
        """Run ``fn`` once Spark has stopped and its event log is complete."""
        self._after_stop.append(fn)

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.time() - T_START:7.2f}s] {msg}",
              file=sys.stderr, flush=True)


def _stop_jvm() -> None:
    """Stop Spark if a run left it up, then end the JVM and wait for it:
    the JVM exits when its stdin closes, and takes its Python workers."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xrddatapipeline_spark")):
        print("perfbench: the program (xrddatapipeline_spark) is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    # the repo root, not this script's directory, heads the import path
    sys.path[0:1] = [ROOT, os.path.join(ROOT, "tests")]
    import importlib

    ctx = Context(args)
    local = os.path.join(ctx.work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": "6g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={local}",
        "PYSPARK_PYTHON": sys.executable,
    })
    workload = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    try:
        res = workload.run(ctx)
    finally:
        _stop_jvm()
    try:
        for fn in ctx._after_stop:
            fn()
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)

    # peak RSS is published with every run but gated nowhere: the JVM's
    # adaptive heap growth makes it bimodal between runs of the same code
    peak_rss_mb = ctx.rss.peak_bytes / 2**20
    metrics = dict(res["metrics"], setup_s=ctx.setup_s)
    units, layer_names = declared()
    if args.trace:
        layers = dict(res["layers"], peak_rss_mb=peak_rss_mb)
        unknown = set(layers) - set(layer_names)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
        # layers this workload does not run spent nothing: they read 0
        metrics = {n: layers.get(n, 0.0) for n in layer_names}
    failed = len(res["failures"])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **{k: v for k, v in res.items()
           if k not in ("correct", "attempted", "metrics", "layers")},
        "failed_share": failed / res["attempted"],
        "peak_rss_mb": peak_rss_mb,
        "host": ctx.host,
    }))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
