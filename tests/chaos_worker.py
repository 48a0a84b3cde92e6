"""Subprocess worker for the streaming kill/restart chaos test.

Runs the streaming image pipeline as a live (processingTime-trigger) query
over a landing directory until killed. Usage:

    python tests/chaos_worker.py <landing> <out_dir> <checkpoint>

The parent test SIGKILLs this process mid-batch and then recovers from the
checkpoint in its own session.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from xrddatapipeline_spark.session import get_spark  # noqa: E402
from xrddatapipeline_spark.streaming import StreamingImagePipeline  # noqa: E402

from fixtures_images import CONTROLS  # noqa: E402  (tests/ is sys.path[0])


def main() -> None:
    landing, out_dir, ckpt = sys.argv[1], sys.argv[2], sys.argv[3]
    gradient = "--gradient" in sys.argv[4:]
    os.makedirs(landing, exist_ok=True)  # the source rejects a missing dir
    spark = get_spark(
        app_name="chaos-worker", master="local[2]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    pipe = StreamingImagePipeline(
        spark, None, CONTROLS, out_dir, gradient_stage=gradient
    )
    print("WORKER_READY", flush=True)
    q = pipe.start(
        landing,
        ckpt,
        available_now=False,
        processing_interval="500 milliseconds",
        max_files_per_trigger=1,
    )
    q.awaitTermination()


if __name__ == "__main__":
    main()
