#!/usr/bin/env python
"""Interleaved A/B of two git refs on one repo-benchmark workload.

    python scripts/ab.py BASE CHANGE --workload stream_512x1 --pairs 10

Each ref is exported with ``git archive`` into its own directory under
``--scratch`` (default: a new temporary directory), so both sides run
their committed files only. Pair i runs ``perfbench/run.py`` once per
side with seed ``--seed + i``; the side that runs first alternates, so
slow drift in host load charges both sides alike.

Every run prints one line: side, seed, ``correct``, failed share, the
gated metrics and the host weather (JVM and Python-worker canaries, CPU
steal share). The summary gives, per metric, each side's median and
quartiles, the change's wins out of the pairs, and whether the median
gap exceeds the base's interquartile spread. ``--out`` also writes every
run and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref: str, dest: str) -> str:
    """Extract the files of ``ref`` into ``dest``; returns its commit id."""
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    with subprocess.Popen(
        ["git", "-C", REPO, "archive", "--format=tar", sha],
        stdout=subprocess.PIPE,
    ) as proc:
        with tarfile.open(fileobj=proc.stdout, mode="r|") as tar:
            tar.extractall(dest, filter="data")
    if proc.returncode:
        raise RuntimeError(f"git archive {ref} failed")
    return sha


def run_once(root: str, args, seed: int) -> dict:
    """One perfbench run from ``root``: its result and host lines."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"perfbench failed in {root} (seed {seed})")
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "seed": seed,
        "correct": result["correct"],
        "failed_share": info["failed_share"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "host": info["host"],
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: dict, better: dict) -> dict:
    """Per metric: each side's quartiles, the change's pair wins and
    whether the median gap exceeds the base's interquartile spread."""
    out = {}
    for name in runs["change"][0]["metrics"]:
        base = [r["metrics"][name] for r in runs["base"]]
        change = [r["metrics"][name] for r in runs["change"]]
        lower = better.get(name, "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
        (b1, b2, b3), (c1, c2, c3) = quartiles(base), quartiles(change)
        out[name] = {
            "base": [b1, b2, b3], "change": [c1, c2, c3],
            "wins": wins, "pairs": len(base),
            "gap_exceeds_base_iqr": abs(b2 - c2) > (b3 - b1)
            and ((c2 < b2) if lower else (c2 > b2)),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", help="export directory (must not exist)")
    ap.add_argument("--out", help="also write the record as JSON here")
    args = ap.parse_args(argv)

    scratch = args.scratch or tempfile.mkdtemp(prefix="ab-")
    roots, shas = {}, {}
    for side in ("base", "change"):
        roots[side] = os.path.join(scratch, side)
        shas[side] = export(getattr(args, side), roots[side])
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}

    runs: dict[str, list] = {"base": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_once(roots[side], args, seed)
            r["first"] = side == order[0]
            runs[side].append(r)
            h = r["host"]
            gated = " ".join(
                f"{k}={v:.3f}" for k, v in sorted(r["metrics"].items())
                if k in ("latency_s", "setup_s") or args.trace)
            print(f"pair {i} {side:6s} seed {seed} correct={r['correct']} "
                  f"failed={r['failed_share']:.3f} {gated} "
                  f"jvm={h.get('jvm_canary_s', 0):.2f}s "
                  f"py={h.get('py_canary_s', 0):.2f}s "
                  f"steal={100 * h.get('steal_share', 0):.1f}%", flush=True)

    summary = summarize(runs, better)
    print(f"\n{args.workload}: base {shas['base'][:8]} vs change "
          f"{shas['change'][:8]}, {args.pairs} pairs, trace {args.trace}")
    for name, s in sorted(summary.items()):
        b, c = s["base"], s["change"]
        print(f"  {name}: base {b[1]:.3f} [{b[0]:.3f}-{b[2]:.3f}]  change "
              f"{c[1]:.3f} [{c[0]:.3f}-{c[2]:.3f}]  wins {s['wins']}/"
              f"{s['pairs']}  gap>base IQR: {s['gap_exceeds_base_iqr']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "base": shas["base"], "change": shas["change"],
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
