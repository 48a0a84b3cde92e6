#!/usr/bin/env python
"""Dump full .explain("formatted") for every headline query (plus the
image-plan outputs) into plans/r14/<query>_<suffix>.txt — the r14
optimization round's before/after plan evidence.

Usage: python scripts/dump_plans_r14.py before|after [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xrddatapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r14",
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(
        app_name="xrdspark-plans-r14",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.codegen.hugeMethodLimit": "3000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bench import HEADLINE  # noqa: E402
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY  # noqa: E402

    names = [n for n in HEADLINE if n in REGISTRY]
    if only:
        names = [n for n in names if n in only]

    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = sum(1 for ln in plan.splitlines()
                   if ln.strip().startswith("Exchange"))
        print(f"{name}: {len(plan.splitlines())} lines, "
              f"{n_ex} Exchange ops -> {path}")

    # the image-plan query (xrd_image_plan_512): dump the OUTPUT plans.
    # Build it the way bench._image_plan_seconds does, with the default
    # (shipped) local_checkpoint barrier: each output plan starts at the
    # checkpoint RDDs it reads, so the dump shows what every sink job runs,
    # not the upstream lineage.
    if not only or "xrd_image_plan_512" in only:
        import bench as _bench
        from xrddatapipeline_spark.calib.geometry import ImageControls
        from xrddatapipeline_spark.plans.image_pipeline import run_image_plan

        size = 512
        c = ImageControls(
            wavelength=0.24087, distance=size / 3.0,
            center_x=size * 150.0 / 2000.0, center_y=size * 150.0 / 2000.0,
            pixel_size_x=150.0, pixel_size_y=150.0,
            size_x=size, size_y=size, iotth=(1.0, 12.7),
            out_channels=1000, num_chans_om=500, pola_val=0.99,
            esd_mul=3.0, dataset="bench",
        )
        pixels = _bench._synthetic_pixels(spark, c, n_images=1)
        res = run_image_plan(pixels, c)
        chunks = []
        for out, lbl in (
            (res.integrals, "integrals"), (res.spot_stats, "spot_stats"),
            (res.spottiness, "spottiness"), (res.outliers, "outliers"),
        ):
            plan = out._sc._jvm.PythonSQLUtils.explainString(
                out._jdf.queryExecution(), "formatted"
            )
            chunks.append(f"==== output: {lbl} ====\n{plan}")
        path = os.path.join(out_dir, f"xrd_image_plan_512_{suffix}.txt")
        with open(path, "w") as f:
            f.write("\n\n".join(chunks))
        print(f"xrd_image_plan_512 (output plans) -> {path}")

    spark.stop()


if __name__ == "__main__":
    main()
