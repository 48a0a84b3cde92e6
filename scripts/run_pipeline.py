"""CLI driver — the `python pipeline_queue.py` analog (SURVEY §3.1).

Watches (or backfills) a landing directory of detector TIFFs, runs the full
per-image plan, and writes the output tables under --out. Calibration comes
from a .imctrl or .poni file, optional masks from a .immask file.

    # process existing images, then stop (the reference's backfill mode):
    python scripts/run_pipeline.py --input /data/landing \\
        --controls run.imctrl --out /data/out

    # live watch (the reference's 100 ms poll loop):
    python scripts/run_pipeline.py --input /data/landing \\
        --controls run.poni --out /data/out --watch --interval "1 second"

Outputs: parquet tables integrals / spot_stats / spottiness / outliers /
h_maxima / csim (plus gradient_arcs with --gradient) under --out (Delta
where delta-spark is installed), readable with the plans.readback query
layer or any SQL engine.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xrddatapipeline_spark.calib.geometry import ImageControls
from xrddatapipeline_spark.session import get_spark
from xrddatapipeline_spark.sources.controls import (
    imctrl_to_controls,
    parse_imctrl,
    parse_immask,
    parse_poni,
    poni_to_detector_frame,
)
from xrddatapipeline_spark.streaming.pipeline import StreamingImagePipeline


def load_controls(path: str, **overrides) -> ImageControls:
    text = open(path).read()
    if path.endswith(".poni"):
        return imctrl_to_controls(poni_to_detector_frame(parse_poni(text)),
                                  **overrides)
    return imctrl_to_controls(parse_imctrl(text), **overrides)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--input", required=True, help="landing dir of TIFFs")
    ap.add_argument("--controls", required=True, help=".imctrl or .poni file")
    ap.add_argument("--mask", help=".immask mask record or .tif predefined"
                                    " mask raster (optional)")
    ap.add_argument("--out", required=True, help="output table root")
    ap.add_argument("--checkpoint", help="stream checkpoint dir "
                                         "(default: <out>/_checkpoint)")
    ap.add_argument("--watch", action="store_true",
                    help="keep running and process files as they land "
                         "(default: backfill existing files, then stop)")
    ap.add_argument("--interval", default="1 second",
                    help="processingTime trigger for --watch")
    ap.add_argument("--batch-images", type=int, default=1,
                    help="images per micro-batch (maxFilesPerTrigger)")
    ap.add_argument("--glob", default="*.tif*", help="input filename glob")
    ap.add_argument("--gradient", action="store_true",
                    help="run the gradient classification stage (the "
                         "reference's optional 2nd-derivative repair pass)")
    ap.add_argument("--observe", action="store_true",
                    help="append per-batch stage counters to "
                         "<out>/stage_metrics (the reference's per-stage "
                         "printouts, pipeline_queue.py:1007-1014)")
    ap.add_argument("--clear-queue", action="store_true",
                    help="T4 queue.clear(): snapshot currently-pending "
                         "landing files into <out>/control/skip_manifest "
                         "so the next run skips them, then exit (run "
                         "while the pipeline is stopped)")
    args = ap.parse_args(argv)

    if args.clear_queue:
        pipe = StreamingImagePipeline(None, None, None, args.out)
        n = pipe.clear_queue(args.input, args.glob)
        print(f"skip manifest now lists {n} files")
        return 0

    controls = load_controls(args.controls)
    if args.mask:
        # suffix dispatch as the reference does (cache_creation.py:239-246):
        # .immask = geometric mask record, .tif = predefined mask raster
        if args.mask.lower().endswith((".tif", ".tiff")):
            from xrddatapipeline_spark.sources.tiff import read_tiff_gray

            with open(args.mask, "rb") as f:
                controls.extra["predef_mask"] = (
                    read_tiff_gray(f.read()) != 0
                )
        else:
            controls.extra["immask"] = parse_immask(open(args.mask).read())

    spark = get_spark(app_name="xrd-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    pipe = StreamingImagePipeline(
        spark, None, controls, args.out,
        gradient_stage=args.gradient,
        observe_metrics=args.observe,
    )
    query = pipe.start(
        args.input,
        args.checkpoint or os.path.join(args.out, "_checkpoint"),
        available_now=not args.watch,
        processing_interval=args.interval if args.watch else None,
        max_files_per_trigger=args.batch_images,
        path_glob=args.glob,
        source_format="tiff",
    )
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
