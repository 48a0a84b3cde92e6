"""applyInPandas harness: long-form pixel rows <-> dense rasters, per image.

SURVEY §2.11: the reference's compiled-kernel layer maps onto Arrow-batched
GROUPED_MAP pandas UDFs keyed by image_id. Labels never cross images
(SURVEY §2.8 M1), so each group is independent — on a cluster this
parallelizes across executors with one shuffle on image_id; Arrow batch
size is configured in session.py so an 8.3 Mpx image stays in a few
batches.

The harness carries only the columns a kernel needs (column pruning still
applies upstream), reassembles the dense raster by direct numpy indexing,
runs the pure-numpy kernel, and re-emits long-form rows for only the
non-background pixels (sparse output keeps the shuffle small).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xrddatapipeline_spark.operators import kernels


def to_raster(pdf: pd.DataFrame, col: str, shape: tuple[int, int], fill=0):
    arr = np.full(shape, fill, dtype=np.asarray(pdf[col]).dtype if fill == 0 else np.float64)
    arr[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = pdf[col].to_numpy()
    return arr


def _id_type(df: DataFrame, id_col: str) -> str:
    """DDL of the group key as the input types it (image_id string, or
    the plan's int img_idx)."""
    return f"{id_col} {dict(df.dtypes)[id_col]}"


def label_pixels(
    masked_pixels: DataFrame,
    shape: tuple[int, int],
    connectivity: int = 2,
    min_area: int = 0,
    id_col: str = "image_id",
) -> DataFrame:
    """Connected-component labels for a sparse boolean pixel set.

    Input: DataFrame with (id_col, y, x) — one row per *masked* pixel.
    Output: (id_col, y, x, label) with labels 1..k per image, row-major
    first-appearance order; labels with area < min_area dropped
    (classification.py:343 remove_small_objects).
    """
    h, w = shape

    def _label(pdf: pd.DataFrame) -> pd.DataFrame:
        mask = np.zeros((h, w), dtype=bool)
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        mask[ys, xs] = True
        lab = kernels.label_components(mask, connectivity=connectivity)
        if min_area > 0:
            lab = kernels.remove_small_objects(lab, min_area)
        sel = lab[ys, xs]
        keep = sel > 0
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy()[keep],
                "y": ys[keep],
                "x": xs[keep],
                "label": sel[keep].astype(np.int32),
            }
        )

    schema = f"{_id_type(masked_pixels, id_col)}, y int, x int, label int"
    return (
        masked_pixels.select(id_col, "y", "x")
        .groupBy(id_col)
        .applyInPandas(_label, schema=schema)
    )


def close_mask_pixels(
    masked_pixels: DataFrame,
    shape: tuple[int, int],
    radius: int = 1,
    id_col: str = "image_id",
) -> DataFrame:
    """3x3 binary closing of a sparse mask (pipeline.py:191-205, M2)."""
    h, w = shape

    def _close(pdf: pd.DataFrame) -> pd.DataFrame:
        mask = np.zeros((h, w), dtype=bool)
        mask[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = True
        closed = kernels.binary_closing(mask, radius=radius)
        ys, xs = np.nonzero(closed)
        return pd.DataFrame(
            {
                id_col: np.repeat(pdf[id_col].iloc[0], ys.size),
                "y": ys.astype(np.int32),
                "x": xs.astype(np.int32),
            }
        )

    schema = f"{_id_type(masked_pixels, id_col)}, y int, x int"
    return (
        masked_pixels.select(id_col, "y", "x")
        .groupBy(id_col)
        .applyInPandas(_close, schema=schema)
    )


def close_and_label_pixels(
    masked_pixels: DataFrame,
    shape: tuple[int, int],
    radius: int = 1,
    connectivity: int = 2,
    min_area: int = 0,
    id_col: str = "image_id",
) -> DataFrame:
    """M2 + M1 fused: 3x3 binary closing of a sparse mask, then
    connected-component labels, in ONE rasterize/kernel/emit pass.

    Identical output to ``label_pixels(close_mask_pixels(df))`` (labeling
    the re-sparsified closed mask rebuilds exactly the closed raster),
    but one applyInPandas round instead of two: one image_id exchange,
    one Arrow in/out, one rasterize — and callers need no intermediate
    barrier between closing and labeling (round 14; the split form cost
    the image plan a whole eager checkpoint job plus a second kernel
    pass per batch). Every closed pixel carries a label >= 1 when
    ``min_area == 0``, so the closed mask itself is the (y, x) set of
    the output.
    """
    h, w = shape

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        mask = np.zeros((h, w), dtype=bool)
        mask[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = True
        closed = kernels.binary_closing(mask, radius=radius)
        lab = kernels.label_components(closed, connectivity=connectivity)
        if min_area > 0:
            lab = kernels.remove_small_objects(lab, min_area)
        ys, xs = np.nonzero(lab > 0)
        return pd.DataFrame(
            {
                id_col: np.repeat(pdf[id_col].iloc[0], ys.size),
                "y": ys.astype(np.int32),
                "x": xs.astype(np.int32),
                "label": lab[ys, xs].astype(np.int32),
            }
        )

    schema = f"{_id_type(masked_pixels, id_col)}, y int, x int, label int"
    return (
        masked_pixels.select(id_col, "y", "x")
        .groupBy(id_col)
        .applyInPandas(_run, schema=schema)
    )


def apply_image_kernel(
    pixels: DataFrame,
    value_cols: list[str],
    out_cols: dict[str, str],
    fn: Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]],
    shape: tuple[int, int],
    id_col: str = "image_id",
    sparse_output_col: str | None = None,
) -> DataFrame:
    """Generic per-image raster kernel: rasterize ``value_cols``, run ``fn``
    (dict of rasters -> dict of rasters named per ``out_cols``), emit
    long-form rows. If ``sparse_output_col`` is set, only rows where that
    output raster is nonzero are emitted."""
    h, w = shape

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        rasters = {}
        for c in value_cols:
            arr = np.zeros((h, w), dtype=np.float64)
            arr[ys, xs] = pdf[c].to_numpy()
            rasters[c] = arr
        outs = fn(rasters)
        if sparse_output_col is not None:
            sel_ys, sel_xs = np.nonzero(outs[sparse_output_col])
        else:
            sel_ys, sel_xs = ys, xs
        data = {
            id_col: np.repeat(pdf[id_col].iloc[0], sel_ys.size),
            "y": sel_ys.astype(np.int32),
            "x": sel_xs.astype(np.int32),
        }
        for name in out_cols:
            data[name] = outs[name][sel_ys, sel_xs]
        return pd.DataFrame(data)

    fields = ", ".join(f"{n} {t}" for n, t in out_cols.items())
    schema = f"{id_col} string, y int, x int, {fields}"
    return (
        pixels.select(id_col, "y", "x", *value_cols)
        .groupBy(id_col)
        .applyInPandas(_run, schema=schema)
    )
