"""Session factory behavior that must hold on a real cluster."""

from __future__ import annotations

import os
import subprocess
import sys

_PROBE = """
import os, sys
sys.path.insert(0, {root!r})
from xrddatapipeline_spark.session import get_spark
spark = get_spark(app_name="malloc-probe", master="local[1]",
                  shuffle_partitions=1)
conf = spark.sparkContext.getConf()
print("MMAP=", conf.get("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "ABSENT"))
print("TRIM=", conf.get("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "ABSENT"))
spark.stop()
"""


def _run_probe() -> str:
    root = os.getcwd()
    env = dict(os.environ)
    env.pop("MALLOC_MMAP_THRESHOLD_", None)
    env.pop("MALLOC_TRIM_THRESHOLD_", None)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=root)],
        capture_output=True, text=True, timeout=300, env=env, cwd=root,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_malloc_tune_default_sets_executor_env():
    out = _run_probe()
    assert "MMAP= 67108864" in out and "TRIM= 536870912" in out, out
