"""Compatibility text sinks: .chi / .xye integral exports, stats CSV.

The engine's source of truth is the columnar tables (integrals /
spot_stats / ... parquet, SURVEY §2.2); these writers reproduce the
reference's on-disk text formats for downstream tools that expect them:

- `.chi` (Export_chi, pipeline.py:44-52): filename line, axis-name line,
  count line, then `%.7e %.7e` pairs — the reference's 4-line header
  counts the blank line; samples have 2504 lines for 2500 bins.
- `.xye` (Export_xye, pipeline.py:28-41): `/* name */` comment header
  then x y esd triples.
- stats CSVs (pipeline.py:491-492): plain pandas-style CSV per image.

These are driver-side writes of per-image vectors (a few k rows), pulled
with one targeted, partition-pruned filter per image — bulk exports
should loop datasets, not call this per 100 M images.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame


def _integral_pdf(integrals: DataFrame, image_id: str, kind: str) -> pd.DataFrame:
    pdf = (
        integrals.where(
            (integrals.image_id == image_id) & (integrals.kind == kind)
        )
        .select("tth", "intensity")
        .orderBy("tth")
        .toPandas()
    )
    return pdf


def export_chi(
    integrals: DataFrame, image_id: str, kind: str, path: str
) -> str:
    """Write one integral as a `.chi` text file; returns the path."""
    pdf = _integral_pdf(integrals, image_id, kind)
    with open(path, "w") as f:
        f.write(f"{image_id}_{kind}\n")
        f.write("2-Theta Angle (Degrees)\nIntensity\n")
        f.write(f"       {len(pdf)}\n")
        for tth, inten in zip(pdf["tth"], pdf["intensity"]):
            f.write(f" {tth:.7e}  {inten:.7e}\n")
    return path


def export_xye(
    integrals: DataFrame, image_id: str, kind: str, path: str
) -> str:
    """Write one integral as a `.xye` (x, y, esd) text file."""
    pdf = _integral_pdf(integrals, image_id, kind)
    with open(path, "w") as f:
        f.write(f"/* {image_id}_{kind} */\n")
        for tth, inten in zip(pdf["tth"], pdf["intensity"]):
            esd = abs(inten) ** 0.5
            f.write(f"{tth:.7e} {inten:.7e} {esd:.7e}\n")
    return path


def export_stats_csv(stats: DataFrame, image_id: str, path: str) -> str:
    """Write one image's spot-stats table as CSV (K5).

    The reference writes one file per image with NO image column
    (spottiness.py:46's df.to_csv; header pinned by the tutorial goldens,
    docs/GuiliangJun25_tutorial_output/stats/*_spots_stats_df.csv) — the
    partitioning column is the filename, so drop it from the rows."""
    pdf = stats.where(stats.image_id == image_id).drop("image_id").toPandas()
    pdf.to_csv(path, index=False)
    return path


def read_chi(path: str) -> pd.DataFrame:
    """Read a `.chi` file back (the results-UI ingest path, skiprows=4)."""
    with open(path) as f:
        lines = f.readlines()
    rows = [
        tuple(float(v) for v in ln.split()) for ln in lines[4:] if ln.strip()
    ]
    return pd.DataFrame(rows, columns=["tth", "intensity"])


def export_dataset_chis(
    integrals: DataFrame, out_dir: str, kinds: tuple[str, ...] = ("base", "om")
) -> list[str]:
    """Bulk export: one `.chi` per (image, kind) under out_dir.

    ONE distributed job: each (image, kind) group writes its own file from
    the executor (`applyInPandas`), byte-identical to `export_chi`'s
    driver-side writer — the previous form ran one filtered collect job
    per (image, kind), a driver-side loop that serializes a bulk export
    into images x kinds scheduler round-trips. out_dir must be visible to
    the executors (local mode / shared filesystem — same contract as
    `render_mask_tiffs`).

    Files-per-image contract: every distinct image_id in `integrals` gets
    one file per requested kind. applyInPandas only sees groups that have
    rows, so a kind absent from the frame is topped up driver-side with
    the header-only file `export_chi` would have written for an empty
    selection (the image-id list is bounded — images per batch/dataset,
    never pixel-scale)."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    out_dir_abs = os.path.abspath(out_dir)

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        image_id = pdf["image_id"].iloc[0]
        kind = pdf["kind"].iloc[0]
        suffix = "" if kind == "base" else f"_{kind}"
        path = os.path.join(out_dir_abs, f"{image_id}{suffix}.chi")
        pdf = pdf.sort_values("tth")
        with open(path, "w") as f:
            f.write(f"{image_id}_{kind}\n")
            f.write("2-Theta Angle (Degrees)\nIntensity\n")
            f.write(f"       {len(pdf)}\n")
            for tth, inten in zip(pdf["tth"], pdf["intensity"]):
                f.write(f" {tth:.7e}  {inten:.7e}\n")
        return pd.DataFrame({"path": [path]})

    rows = (
        integrals.where(F.col("kind").isin(list(kinds)))
        .select("image_id", "kind", "tth", "intensity")
        .groupBy("image_id", "kind")
        .applyInPandas(_write_group, "path string")
        .collect()
    )
    written = {r.path for r in rows}
    # top-up: header-only files for (image, kind) groups with zero rows
    image_ids = [
        r.image_id
        for r in integrals.select("image_id").distinct().collect()
    ]
    for image_id in image_ids:
        for kind in kinds:
            suffix = "" if kind == "base" else f"_{kind}"
            path = os.path.join(out_dir_abs, f"{image_id}{suffix}.chi")
            if path in written:
                continue
            with open(path, "w") as f:
                f.write(f"{image_id}_{kind}\n")
                f.write("2-Theta Angle (Degrees)\nIntensity\n")
                f.write("       0\n")
            written.add(path)
    return sorted(written)


def export_dataset_stats_csvs(
    stats: DataFrame,
    out_dir: str,
    sort_by: tuple[str, ...] = ("spot_stat_label",),
) -> list[str]:
    """Bulk K5: one `<image_id>_spots_stats_df.csv` per image under
    out_dir, as ONE distributed job (the K2 `export_dataset_chis`
    pattern) — a bulk caller looping `export_stats_csv` would serialize
    the export into one filtered collect per image.

    Row order inside a CSV follows ``sort_by`` (the reference's per-image
    frames are label-ordered); `export_stats_csv` on a pre-sorted frame
    writes byte-identical files (parity-tested). out_dir must be visible
    to the executors (local mode / shared filesystem)."""
    os.makedirs(out_dir, exist_ok=True)
    out_dir_abs = os.path.abspath(out_dir)
    cols = [c for c in stats.columns if c != "image_id"]

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        image_id = pdf["image_id"].iloc[0]
        path = os.path.join(out_dir_abs, f"{image_id}_spots_stats_df.csv")
        body = pdf.sort_values(list(sort_by))[cols]
        body.to_csv(path, index=False)
        return pd.DataFrame({"path": [path]})

    rows = (
        stats.groupBy("image_id")
        .applyInPandas(_write_group, "path string")
        .collect()
    )
    return sorted(r.path for r in rows)


def render_mask_tiffs(
    mask_rows: DataFrame,
    shape: tuple[int, int],
    out_dir: str,
    suffix: str = "_outliermask",
) -> DataFrame:
    """K3 viz parity: sparse mask rows -> one dense boolean TIFF per image.

    The reference saves `<name>-<number>_base.tif` / `_outliermask.tif`
    next to its parquet-equivalent state (pipeline.py:152-159, 196-216).
    Here the sparse (image_id, y, x) rows ARE the source of truth; this
    sink re-materializes the dense raster for viewers. Executed as
    `applyInPandas` per image — each file renders on the executor holding
    that image's rows (out_dir must be a shared filesystem; at scale this
    is the object store). Masks are written as uint8 0/1 (the reference's
    PIL bool TIFFs are 1-bit; 8-bit is the lossless portable equivalent).

    Returns (image_id, path, n_px) — one row per written file. The sink
    runs when this frame is consumed (an action is required).
    """
    import numpy as np

    from xrddatapipeline_spark.sources.tiff import write_tiff_gray

    h, w = shape
    os.makedirs(out_dir, exist_ok=True)

    def _render(pdf: pd.DataFrame) -> pd.DataFrame:
        image_id = str(pdf["image_id"].iloc[0])
        img = np.zeros((h, w), dtype=np.uint8)
        img[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = 1
        path = os.path.join(out_dir, f"{image_id}{suffix}.tif")
        write_tiff_gray(path, img)
        return pd.DataFrame(
            {"image_id": [image_id], "path": [path], "n_px": [len(pdf)]}
        )

    return (
        mask_rows.select("image_id", "y", "x")
        .groupBy("image_id")
        .applyInPandas(_render, "image_id string, path string, n_px long")
    )


#: map-name -> calib column, in the reference's file order
#: (cache_creation.py:65-84)
MAP_TIFF_COLUMNS = {
    "2thetamap": "tth",
    "azmmap": "azim",
    "pixelsampledistmap": "dist_sq",
    "polscalemap": "pol",
    "qmap": "q",
}


def render_map_tiffs(
    calib: DataFrame,
    shape: tuple[int, int],
    out_dir: str,
    prefix: str,
) -> list[str]:
    """K4 viz parity: the five dense calibration maps as float32 TIFFs
    (`<prefix>_2thetamap.tif`, `_azmmap.tif`, `_pixelsampledistmap.tif`,
    `_polscalemap.tif`, `_qmap.tif`; cache_creation.py:65-84).

    A one-time per-run export (the reference writes these once when the
    cache is built): one driver-side collect of the calib table feeds all
    five files. Returns the written paths.
    """
    import numpy as np

    from xrddatapipeline_spark.sources.tiff import write_tiff_gray

    h, w = shape
    os.makedirs(out_dir, exist_ok=True)
    pdf = calib.select("y", "x", *MAP_TIFF_COLUMNS.values()).toPandas()
    ys = pdf["y"].to_numpy()
    xs = pdf["x"].to_numpy()
    paths = []
    for name, col in MAP_TIFF_COLUMNS.items():
        img = np.zeros((h, w), dtype=np.float32)
        img[ys, xs] = pdf[col].to_numpy().astype(np.float32)
        path = os.path.join(out_dir, f"{prefix}_{name}.tif")
        write_tiff_gray(path, img)
        paths.append(path)
    return paths

