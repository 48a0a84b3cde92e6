"""Table-format abstraction (SURVEY §1.4 Delta mapping, parquet stand-in).

The delta test skips cleanly in containers without delta-spark; the
fallback test proves a 'delta' request degrades to parquet with a warning
instead of failing the pipeline.
"""

from __future__ import annotations

import warnings

import pytest

from xrddatapipeline_spark import tables


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    path = str(tmp_path / "t")
    tables.write_table(df, path, mode="overwrite")
    got = tables.read_table(spark, path)
    assert got.count() == 10
    tables.write_table(df, path)  # append
    assert tables.read_table(spark, path).count() == 20


def test_resolve_precedence(spark, monkeypatch):
    assert tables.resolve_table_format(spark) == "parquet"
    monkeypatch.setenv(tables.TABLE_FORMAT_ENV, "parquet")
    assert tables.resolve_table_format(None) == "parquet"
    with pytest.raises(ValueError):
        tables.resolve_table_format(None, "orc")


def test_delta_fallback_warns_without_delta(spark):
    if tables.delta_available():
        pytest.skip("delta-spark installed; fallback path not reachable")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert tables.resolve_table_format(spark, "delta") == "parquet"
    assert any("delta-spark" in str(x.message) for x in w)


def test_streaming_pipeline_accepts_delta_format(spark, tmp_path):
    """The streaming sink takes the format from ONE config point: with
    format='delta' in this container it must still land batches (parquet
    fallback), proving the abstraction is wired through every write site."""
    from tests.fixtures_images import CONTROLS, images_long_df, make_image
    from xrddatapipeline_spark.streaming import StreamingImagePipeline

    out_dir = str(tmp_path / "out")
    pipe = StreamingImagePipeline(
        spark, None, CONTROLS, out_dir, table_format="delta"
    )
    px = images_long_df(spark, [("synth", 0, make_image(CONTROLS, seq=0))])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # expected delta->parquet fallback
        pipe.process_batch(px, 0)
    assert pipe.output("integrals").count() > 0
    assert pipe.output("csim").count() == 1


@pytest.mark.skipif(not tables.delta_available(), reason="delta-spark absent")
def test_delta_roundtrip(spark, tmp_path):  # pragma: no cover - env-gated
    df = spark.range(5)
    path = str(tmp_path / "d")
    tables.write_table(df, path, mode="overwrite", fmt="delta")
    assert tables.read_table(spark, path, fmt="delta").count() == 5
