"""TIFF source, control-file parsers, geometric masks, text sinks."""

from __future__ import annotations

import numpy as np
import pytest

from xrddatapipeline_spark.calib.cache import (
    build_calib_pixels,
    with_calib_columns,
)
from xrddatapipeline_spark.calib.geometry import compute_maps_numpy
from xrddatapipeline_spark.operators.masks import (
    geometric_mask_predicate,
    masks_table_rows,
    point_in_polygon,
)
from xrddatapipeline_spark.sinks import export_chi, export_xye, read_chi
from xrddatapipeline_spark.sources.controls import (
    imctrl_to_controls,
    parse_imctrl,
    parse_immask,
    parse_poni,
)
from xrddatapipeline_spark.sources.tiff import (
    parse_image_filename,
    read_tiff_gray,
    read_tiff_images,
    write_tiff_gray,
)
from tests.fixtures_images import CONTROLS, images_long_df, make_image


# ---------------------------------------------------------------------------
# TIFF round-trip + Spark decode source
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int32", "float32"])
def test_tiff_roundtrip_dtypes(tmp_path, dtype):
    rng = np.random.default_rng(3)
    img = (rng.uniform(0, 255, size=(17, 23))).astype(dtype)
    p = str(tmp_path / f"t_{dtype}.tif")
    write_tiff_gray(p, img)
    got = read_tiff_gray(open(p, "rb").read())
    np.testing.assert_array_equal(got, img)


def test_tiff_big_endian():
    img = np.arange(12, dtype=">i4").reshape(3, 4)
    import struct
    # hand-build a big-endian TIFF
    data = img.tobytes()
    ifd_off = 8 + len(data)
    tags = [(256, 4, 1, 4), (257, 4, 1, 3), (258, 3, 1, 32), (259, 3, 1, 1),
            (273, 4, 1, 8), (279, 4, 1, len(data)), (339, 3, 1, 2)]
    buf = b"MM" + struct.pack(">HI", 42, ifd_off) + data
    buf += struct.pack(">H", len(tags))
    for t, vt, c, v in tags:
        # value is left-justified in the 4-byte field (TIFF 6.0 spec)
        val = struct.pack(">HH", v, 0) if vt == 3 else struct.pack(">I", v)
        buf += struct.pack(">HHI", t, vt, c) + val
    buf += struct.pack(">I", 0)
    np.testing.assert_array_equal(read_tiff_gray(buf), img.astype(np.int64))


def test_tiff_rejects_compressed():
    img = np.zeros((4, 4), dtype=np.uint16)
    import io, struct
    # write then patch compression tag to 5 (LZW)
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "x.tif")
        write_tiff_gray(p, img)
        raw = bytearray(open(p, "rb").read())
    # find tag 259 entry and bump its value
    n_tags_off = 8 + img.nbytes
    (n_tags,) = struct.unpack("<H", raw[n_tags_off:n_tags_off + 2])
    for i in range(n_tags):
        off = n_tags_off + 2 + 12 * i
        (tag,) = struct.unpack("<H", raw[off:off + 2])
        if tag == 259:
            raw[off + 8:off + 12] = struct.pack("<I", 5)
    with pytest.raises(ValueError, match="compression"):
        read_tiff_gray(bytes(raw))


def test_render_mask_tiffs_roundtrip(spark, tmp_path):
    """K3: sparse mask rows -> per-image boolean TIFF -> dense array."""
    import pandas as pd

    from xrddatapipeline_spark.sinks import render_mask_tiffs

    h, w = 16, 20
    rng = np.random.default_rng(11)
    rows = []
    masks = {}
    for image_id in ("a-00001", "a-00002"):
        dense = rng.uniform(0, 1, size=(h, w)) < 0.2
        masks[image_id] = dense
        ys, xs = np.nonzero(dense)
        rows += [(image_id, int(y), int(x)) for y, x in zip(ys, xs)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "y", "x"])
    )
    out = (
        render_mask_tiffs(df, (h, w), str(tmp_path), "_outliermask")
        .toPandas().set_index("image_id")
    )
    for image_id, dense in masks.items():
        got = read_tiff_gray(open(out.loc[image_id, "path"], "rb").read())
        np.testing.assert_array_equal(got.astype(bool), dense)
        assert out.loc[image_id, "n_px"] == dense.sum()


def test_render_map_tiffs_roundtrip(spark, tmp_path):
    """K4: the five calib maps render as float32 TIFFs matching numpy."""
    from xrddatapipeline_spark.calib.geometry import (
        ImageControls,
        compute_maps_numpy,
    )
    from xrddatapipeline_spark.sinks import MAP_TIFF_COLUMNS, render_map_tiffs

    c = ImageControls(size_x=24, size_y=18, center_x=1.8, center_y=1.4,
                      tilt=4.0, rotation=25.0)
    calib = build_calib_pixels(spark, c)
    paths = render_map_tiffs(
        calib, (c.size_y, c.size_x), str(tmp_path), "ctrl"
    )
    import os

    assert [os.path.basename(p) for p in paths] == [
        f"ctrl_{n}.tif" for n in MAP_TIFF_COLUMNS
    ]
    maps = compute_maps_numpy(c)
    for path, col in zip(paths, MAP_TIFF_COLUMNS.values()):
        got = read_tiff_gray(open(path, "rb").read())
        np.testing.assert_array_equal(got, maps[col].astype(np.float32))


def test_filename_parse():
    assert parse_image_filename("/a/b/MA2b-00004.tif") == ("MA2b", 4)
    assert parse_image_filename("x_12345.tiff") == ("x", 12345)
    assert parse_image_filename("noseq.tif") == ("noseq", 0)


def test_spark_tiff_source_matches_fixture(spark, tmp_path):
    img = make_image(CONTROLS, seq=7)
    write_tiff_gray(str(tmp_path / "synth-00007.tif"), img)
    got = (
        read_tiff_images(spark, str(tmp_path))
        .toPandas()
        .sort_values(["y", "x"])
        .reset_index(drop=True)
    )
    want = (
        images_long_df(spark, [("synth", 7, img)])
        .toPandas()
        .sort_values(["y", "x"])
        .reset_index(drop=True)
    )
    assert got.equals(want[got.columns])


# ---------------------------------------------------------------------------
# Control files
# ---------------------------------------------------------------------------

IMCTRL = """\
# comment line
wavelength:0.24087
distance:85.0
center:[19.2, 19.2]
tilt:0.0
rotation:0.0
IOtth:[1.0, 12.7]
LRazimuth:[0, 360]
outChannels:250
PolaVal:[0.99, False]
pixelSize:[150.0, 150.0]
size:[256, 256]
type:PWDR
"""


def test_parse_imctrl_roundtrip():
    d = parse_imctrl(IMCTRL)
    assert d["type"] == "PWDR"
    c = imctrl_to_controls(d)
    assert c.wavelength == 0.24087
    assert (c.center_x, c.center_y) == (19.2, 19.2)
    assert c.out_channels == 250
    assert c.iotth == (1.0, 12.7)
    assert c.pola_val == 0.99
    assert c.size_x == 256


def test_parse_imctrl_space_separated_center():
    d = parse_imctrl("center:[1.5 2.5]")
    assert d["center"] == [1.5, 2.5]


PONI = """\
# pyFAI calibration
Distance: 0.085
Poni1: 0.0192
Poni2: 0.0192
Rot1: 0.0
Rot2: 0.0
Rot3: 0.0
Wavelength: 2.4087e-11
Detector_config: {"pixel1": 150e-6, "pixel2": 150e-6, "max_shape": [256, 256]}
"""


def test_parse_poni_zero_tilt():
    d = parse_poni(PONI)
    np.testing.assert_allclose(d["distance"], 85.0)
    np.testing.assert_allclose(d["center"], [19.2, 19.2])
    np.testing.assert_allclose(d["wavelength"], 0.24087)
    assert d["tilt"] == 0.0
    assert d["pixelSize"] == [150.0, 150.0]
    assert d["size"] == [256, 256]


def test_parse_poni_tilted_consistency():
    """Tilted geometry: direct distance = L/cos(tilt), tilt sign flipped
    into the GSAS-II frame."""
    poni = PONI.replace("Rot1: 0.0", "Rot1: 0.02").replace("Rot2: 0.0", "Rot2: 0.01")
    d = parse_poni(poni)
    import math
    cos_tilt = math.cos(0.02) * math.cos(0.01)
    np.testing.assert_allclose(d["distance"], 85.0 / cos_tilt)
    np.testing.assert_allclose(-d["tilt"], math.degrees(math.acos(cos_tilt)))
    assert 0.0 <= d["rotation"] < 360.0


IMMASK = """\
Points:[[10.0, 12.0, 1.0]]
Rings:[[5.0, 0.2]]
Arcs:[[7.0, [40.0, 75.0], 0.3]]
Polygons:[[[1.0, 1.0], [5.0, 1.0], [5.0, 5.0], [1.0, 5.0]]]
Frames:[]
Thresholds:[[0, 65535], [0, 30000]]
"""


def test_metadata_sidecar_parse():
    from xrddatapipeline_spark.sources.controls import parse_metadata_sidecar
    d = parse_metadata_sidecar(
        "# header\nwavelength=0.24087\ndistance=1000.5\ndetector=Pilatus\n"
    )
    assert d == {"wavelength": 0.24087, "distance": 1000.5, "detector": "Pilatus"}


def test_immask_write_roundtrip(tmp_path):
    from xrddatapipeline_spark.sources.controls import parse_immask, write_immask
    m = parse_immask(IMMASK)
    p = write_immask(m, str(tmp_path / "out.immask"))
    again = parse_immask(open(p).read())
    for k in ("Points", "Rings", "Arcs", "Polygons", "Thresholds"):
        assert again[k] == m[k]


def test_user_profile_import(spark, tmp_path):
    from xrddatapipeline_spark.sources.tables import read_user_profile
    p = tmp_path / "profile.txt"
    p.write_text("# overlay\n1.0  10.5\n2.0\t20.25\n\n3.5 7\n")
    pdf = read_user_profile(spark, str(p)).orderBy("x").toPandas()
    assert list(pdf.x) == [1.0, 2.0, 3.5]
    assert list(pdf.y) == [10.5, 20.25, 7.0]


def test_parse_immask():
    m = parse_immask(IMMASK)
    assert m["Points"] == [[10.0, 12.0, 1.0]]
    assert m["Arcs"][0][1] == [40.0, 75.0]
    assert m["Thresholds"][1] == [0, 30000]
    rows = masks_table_rows(m)
    kinds = [k for k, _ in rows]
    assert kinds == ["point", "ring", "arc", "polygon", "threshold"]


# ---------------------------------------------------------------------------
# Geometric mask rasterization vs numpy oracle
# ---------------------------------------------------------------------------

def test_geometric_masks_match_numpy(spark):
    c = CONTROLS
    m = parse_immask(IMMASK)
    img = make_image(c, seq=0)
    pixels = images_long_df(spark, [("synth", 0, img)])
    px = with_calib_columns(pixels, c)
    got = (
        px.withColumn("gm", geometric_mask_predicate(m, c))
        .where("gm")
        .select("y", "x")
        .toPandas()
    )
    got_set = set(zip(got.y, got.x))

    maps = compute_maps_numpy(c)
    ys, xs = np.mgrid[0:c.size_y, 0:c.size_x]
    x_mm = (xs + 0.5) * c.pixel_size_x / 1000.0
    y_mm = (ys + 0.5) * c.pixel_size_y / 1000.0
    want = np.zeros_like(x_mm, dtype=bool)
    # strict < matches np.ma.masked_less (GSASII_imports.py:412)
    want |= (x_mm - 10.0) ** 2 + (y_mm - 12.0) ** 2 < 0.25
    want |= np.abs(maps["tth"] - 5.0) <= 0.1
    want |= (np.abs(maps["tth"] - 7.0) <= 0.15) & (maps["azim"] >= 40) & (maps["azim"] <= 75)
    # polygon [1,1]-[5,5] box via matplotlib-free even-odd test
    want |= (x_mm > 1) & (x_mm < 5) & (y_mm > 1) & (y_mm < 5)
    want |= (img < 0) | (img > 30000)
    want_set = set(zip(ys[want].ravel(), xs[want].ravel()))
    assert got_set == want_set


def test_point_in_polygon_wrapping_vertex_order(spark):
    # clockwise vs counterclockwise must agree; point on a 10x10 grid
    square_ccw = [[2.0, 2.0], [8.0, 2.0], [8.0, 8.0], [2.0, 8.0]]
    square_cw = list(reversed(square_ccw))
    from pyspark.sql import functions as F
    df = spark.range(1).select(
        F.lit(5.0).alias("px"), F.lit(5.0).alias("py"),
        F.lit(9.0).alias("qx"), F.lit(5.0).alias("qy"),
    )
    r = df.select(
        point_in_polygon(F.col("px"), F.col("py"), square_ccw).alias("in_ccw"),
        point_in_polygon(F.col("px"), F.col("py"), square_cw).alias("in_cw"),
        point_in_polygon(F.col("qx"), F.col("qy"), square_ccw).alias("out_ccw"),
    ).collect()[0]
    assert r.in_ccw and r.in_cw and not r.out_ccw


# ---------------------------------------------------------------------------
# Text sinks
# ---------------------------------------------------------------------------

def test_chi_xye_roundtrip(spark, tmp_path):
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
    img = make_image(CONTROLS, seq=0)
    pixels = images_long_df(spark, [("synth", 0, img)])
    res = run_image_plan(pixels, CONTROLS)
    integrals = res.integrals.cache()

    chi = export_chi(integrals, "synth-00000", "base", str(tmp_path / "a.chi"))
    back = read_chi(chi)
    want = (
        integrals.where("image_id='synth-00000' and kind='base'")
        .orderBy("tth").select("tth", "intensity").toPandas()
    )
    assert len(back) == len(want)
    np.testing.assert_allclose(back.intensity, want.intensity, rtol=1e-6)
    # header shape: 4 lines then data
    lines = open(chi).readlines()
    assert lines[0].strip() == "synth-00000_base"
    assert lines[3].strip() == str(len(want))

    xye = export_xye(integrals, "synth-00000", "base", str(tmp_path / "a.xye"))
    xlines = open(xye).readlines()
    assert xlines[0].startswith("/*")
    assert len(xlines) == len(want) + 1


def test_export_dataset_chis_bytes_match_single_writer(spark, tmp_path):
    """The distributed bulk exporter (one applyInPandas job) must produce
    byte-identical files to the driver-side per-image writer."""
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
    from xrddatapipeline_spark.sinks import export_dataset_chis

    pixels = images_long_df(
        spark,
        [("synth", 0, make_image(CONTROLS, seq=0)),
         ("synth", 1, make_image(CONTROLS, seq=1))],
    )
    res = run_image_plan(pixels, CONTROLS)
    integrals = res.integrals.cache()

    bulk_dir = tmp_path / "bulk"
    paths = export_dataset_chis(integrals, str(bulk_dir), kinds=("base", "om"))
    assert len(paths) == 4  # 2 images x 2 kinds
    assert paths == sorted(paths)

    single_dir = tmp_path / "single"
    single_dir.mkdir()
    for image_id in ("synth-00000", "synth-00001"):
        for kind in ("base", "om"):
            suffix = "" if kind == "base" else f"_{kind}"
            name = f"{image_id}{suffix}.chi"
            export_chi(integrals, image_id, kind, str(single_dir / name))
            bulk_bytes = (bulk_dir / name).read_bytes()
            assert bulk_bytes == (single_dir / name).read_bytes(), name


def test_export_dataset_chis_emits_header_only_for_empty_kind(spark, tmp_path):
    """ADVICE r9: a requested kind absent from the frame still gets a file
    per image (header-only, byte-identical to export_chi on an empty
    selection) — the fixed files-per-image contract of the old driver loop."""
    import pandas as pd

    from xrddatapipeline_spark.sinks import export_dataset_chis

    integrals = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["imgA", "imgA"],
                "kind": ["base", "base"],
                "tth_idx": [1, 2],
                "tth": [1.0, 2.0],
                "intensity": [10.0, 20.0],
            }
        )
    )
    bulk_dir = tmp_path / "bulk"
    paths = export_dataset_chis(integrals, str(bulk_dir), kinds=("base", "om"))
    assert len(paths) == 2  # base (2 rows) + om (header-only)

    single = tmp_path / "imgA_om_single.chi"
    export_chi(integrals, "imgA", "om", str(single))
    assert (bulk_dir / "imgA_om.chi").read_bytes() == single.read_bytes()


def test_export_dataset_stats_csvs_bytes_match_single_writer(spark, tmp_path):
    """Bulk K5 exporter (one applyInPandas job) writes byte-identical CSVs
    to export_stats_csv on a label-sorted frame."""
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
    from xrddatapipeline_spark.sinks import (
        export_dataset_stats_csvs,
        export_stats_csv,
    )

    pixels = images_long_df(
        spark,
        [("synth", 0, make_image(CONTROLS, seq=0)),
         ("synth", 1, make_image(CONTROLS, seq=1))],
    )
    res = run_image_plan(pixels, CONTROLS)
    stats = res.spot_stats.cache()

    bulk_dir = tmp_path / "bulk"
    paths = export_dataset_stats_csvs(stats, str(bulk_dir))
    assert len(paths) == 2 and paths == sorted(paths)

    for image_id in ("synth-00000", "synth-00001"):
        single = tmp_path / f"{image_id}_single.csv"
        export_stats_csv(
            stats.orderBy("spot_stat_label"), image_id, str(single)
        )
        name = f"{image_id}_spots_stats_df.csv"
        assert (bulk_dir / name).read_bytes() == single.read_bytes(), name
