"""calib_pixels builder: the one-time per-run calibration table as a DataFrame.

Role parity: ``run_cache`` / ``CacheCreator.run`` (cache_creation.py:200-358,
pipeline_queue.py:182-343; SURVEY §1.4, §7 step 2). The reference computes a
stack of dense per-pixel maps once per run and reuses them per image; here the
same information is one DataFrame keyed by (y, x), built from a single
``spark.range(ny*nx)`` (no crossJoin shuffle) with every map a Catalyst
column expression — the 3x3 rotation matrix collapses to six scalar literals,
so the whole build is one narrow whole-stage-codegen pass.

Two consumption modes:

- ``with_calib_columns(df, c)`` appends the calibration columns to ANY
  DataFrame carrying (y, x) as pure expressions — **no join at all**. The
  reference caches dense maps because re-running Python trig per image is
  expensive; under whole-stage codegen the per-row trig is cheaper than
  shuffling/sorting 8.3 M rows for a (y, x) join, so this is the per-image
  plan's only calibration route (compute beats cache).
- ``build_calib_pixels(spark, c)`` materializes the table (grid +
  ``with_calib_columns``). It is the reference's cache artifact, the
  oracle the plan's calibration columns are tested against, and the base
  for bucketed external per-pixel tables (flat fields, dark frames) that
  genuinely must be stored (``save_bucketed_pixel_table``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xrddatapipeline_spark.calib.geometry import ImageControls, rotation_matrix
from xrddatapipeline_spark.functions.binning import (
    azim_band,
    q_bin_index,
    tth_bin_index,
)
from xrddatapipeline_spark.functions.trig import tth_to_q


def with_calib_columns(df: DataFrame, c: ImageControls) -> DataFrame:
    """Append (tth, azim, q, dist_sq, pol, tth_idx, ring_idx, qbin,
    azim_band, azim_mask) to a DataFrame with integer (y, x) columns —
    closed-form expressions, no join, stays in whole-stage codegen."""
    import math

    px_mm_x = c.pixel_size_x / 1000.0
    px_mm_y = c.pixel_size_y / 1000.0
    t_r, r_r = math.radians(c.tilt), math.radians(c.rotation)
    dist = c.distance / math.cos(t_r)  # beam-detector intersection distance

    dx = (F.col("x") + 0.5) * px_mm_x - c.center_x
    dy = (F.col("y") + 0.5) * px_mm_y - c.center_y
    df = df.withColumns({"_dx": dx, "_dy": dy})
    dxc, dyc = F.col("_dx"), F.col("_dy")

    if c.det2theta:
        # swung-detector branch (GetTthAzmG parity, GSASII_imports.py:974-
        # 1019): v = M p + dist z_hat, penetration on v_z, w = Ry(d2t)^T v
        m = rotation_matrix(c.tilt, c.rotation)
        vx = F.lit(float(m[0, 0])) * dxc + F.lit(float(m[0, 1])) * dyc
        vy = F.lit(float(m[1, 0])) * dxc + F.lit(float(m[1, 1])) * dyc
        vz = (
            F.lit(float(m[2, 0])) * dxc
            + F.lit(float(m[2, 1])) * dyc
            + F.lit(dist)
        )
        df = df.withColumns({"_vx": vx, "_vy": vy, "_vz": vz})
        vxc, vyc, vzc = F.col("_vx"), F.col("_vy"), F.col("_vz")
        if c.det_depth:
            norm0 = F.sqrt(vxc**2 + vyc**2 + vzc**2)
            tth0 = F.degrees(F.acos(vzc / norm0))
            dzp = (
                F.lit(c.det_depth)
                * (1.0 - F.cos(F.radians(tth0)))
                * F.lit(dist**2 / 1000.0)
            )
            df = df.withColumn("_vz", vzc + dzp)
            vzc = F.col("_vz")
        cd = math.cos(math.radians(c.det2theta))
        sd = math.sin(math.radians(c.det2theta))
        df = df.withColumns(
            {
                "_wx": F.lit(cd) * vxc - F.lit(sd) * vzc,
                "_wy": vyc,
                "_wz": F.lit(sd) * vxc + F.lit(cd) * vzc,
            }
        )
        wxc, wyc, wzc = F.col("_wx"), F.col("_wy"), F.col("_wz")
        norm = F.sqrt(wxc**2 + wyc**2 + wzc**2)
        tth = F.degrees(F.acos(wzc / norm))
        azim = F.pmod(
            F.degrees(F.atan2(wyc, wxc)) + F.lit(c.azmth_off), F.lit(360.0)
        )
        df = df.withColumns({"tth": tth, "azim": azim}).drop(
            "_vx", "_vy", "_vz", "_wx", "_wy", "_wz"
        )
    else:
        # coplanar branch (GetTthAzmG2 parity, GSASII_imports.py:1027-1046):
        # dz = sin(tilt)(dx sin(rot) - dy cos(rot)), angle from the
        # in-plane radius against (dist - dz + penetration)
        dz = F.lit(math.sin(t_r)) * (
            dxc * math.sin(r_r) - dyc * math.cos(r_r)
        )
        df = df.withColumn("_dz", dz)
        dzc = F.col("_dz")
        rad = F.sqrt(
            F.greatest(dxc**2 + dyc**2 - dzc**2, F.lit(0.0))
        )
        df = df.withColumn("_rad", rad)
        radc = F.col("_rad")
        tth0 = F.degrees(F.atan(radc / (F.lit(dist) - dzc)))
        dzp = (
            F.lit(c.det_depth)
            * (1.0 - F.cos(F.radians(tth0)))
            * F.lit(dist**2 / 1000.0)
        )
        tth = F.degrees(F.atan2(radc, F.lit(dist) - dzc + dzp))
        azim = F.pmod(
            F.degrees(F.atan2(dyc, dxc)) + F.lit(c.azmth_off), F.lit(360.0)
        )
        df = df.withColumns({"tth": tth, "azim": azim}).drop("_dz", "_rad")

    # geometric correction G about the tilt-displaced pole (both branches;
    # GetTthAzmG2:1041-1045)
    x0 = c.distance * math.tan(t_r)
    x0x, x0y = x0 * math.cos(r_r), x0 * math.sin(r_r)
    df = df.withColumn(
        "dist_sq",
        ((dxc - x0x) ** 2 + (dyc - x0y) ** 2 + c.distance**2)
        / F.lit(c.distance**2),
    ).drop("_dx", "_dy")
    df = df.withColumn("q", tth_to_q("tth", c.wavelength))
    # Kahn polarization factor at azimuth - 90 deg (Polarization,
    # GSASII_imports.py:556-579; call site Make2ThetaAzimuthMap:553)
    p = c.pola_val
    a = F.radians(F.col("azim") - 90.0)
    t = F.radians("tth")
    pol = (
        ((1.0 - p) * F.cos(a) ** 2 + p * F.sin(a) ** 2) * F.cos(t) ** 2
        + (1.0 - p) * F.sin(a) ** 2
        + p * F.cos(a) ** 2
    )
    df = df.withColumn("pol", pol)

    lo, hi = c.iotth
    qlo, qhi = c.q_range
    dq = (qhi - qlo) / 100.0
    return (
        df.withColumn("tth_idx", tth_bin_index("tth", lo, hi, c.out_channels))
        .withColumn("ring_idx", tth_bin_index("tth", lo, hi, c.num_chans_om))
        .withColumn("qbin", q_bin_index("q", qlo, dq))
        .withColumn("azim_band", azim_band("azim"))
        .withColumn(
            "azim_mask",
            (F.col("azim") < c.lr_azimuth[0]) | (F.col("azim") > c.lr_azimuth[1]),
        )
    )


def save_bucketed_pixel_table(
    df: DataFrame,
    table: str,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist a per-pixel table bucketed+sorted by (y, x).

    The scale story for J1-style pixel joins: the default calib path is
    closed-form columns (no join at all), but externally-MEASURED per-pixel
    tables — flat fields, dark frames, bad-pixel maps — must be stored and
    joined. Writing every such table with the same (y, x) bucketing makes
    all joins among them exchange-free: each task reads matching bucket
    files from both sides and sort-merges locally, so the 8.3 M-row dense
    side is never shuffled, for any number of joined tables or repeated
    per-image joins. `num_buckets` should match (or divide) the cluster's
    parallelism target; all co-joined tables must share the same count.

    Deliberately parquet regardless of ``tables.resolve_table_format``:
    Spark's ``bucketBy`` (the exchange-free join mechanism this table
    exists for) is a Hive-catalog/parquet feature Delta doesn't support —
    on a Delta deployment the equivalent co-location story is liquid
    clustering / Z-ORDER, which changes the read plan, not this writer.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "y", "x")
        .sortBy("y", "x")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def build_calib_pixels(spark: SparkSession, c: ImageControls) -> DataFrame:
    """Per-pixel calibration table:
    (y, x, tth, azim, q, dist_sq, pol, tth_idx, ring_idx, qbin, azim_band,
    azim_mask).
    """
    nx, ny = c.size_x, c.size_y
    base = spark.range(0, ny * nx).select(
        (F.col("id") / nx).cast("int").alias("y"),
        (F.col("id") % nx).cast("int").alias("x"),
    )
    return with_calib_columns(base, c)
