"""Round-15 parity pins: the Arrow-vectorized similarity UDFs
(lsh_bucket_vectorized, ivf_assign_vectorized, quantized_self_dot_
vectorized) must be BIT-IDENTICAL to the interpreted expression folds
they replaced (lsh_bucket_expr, ivf_assign_expr, quantized_dot(v, v)).
Each test evaluates BOTH formulations over the same frame and asserts
exact equality — beyond the oracle rows, these cover edge shapes (zero
vectors, negatives, exact distance ties, sub-normal-scale values) the
sf corpora may not exercise."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from xrddatapipeline_spark.operators import similarity as sim


DIM = 16


@pytest.fixture(scope="module")
def edge_vectors(spark):
    rng = np.random.default_rng(1507)
    rows = []
    for i in range(64):
        v = (rng.standard_normal(DIM) * 3).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    # edge shapes: all-zero (zero norm), all-negative, tiny magnitudes,
    # exact duplicates (force distance ties between identical centroids'
    # members), one-hot extremes
    rows.append((100, [0.0] * DIM))
    rows.append((101, [-1.5] * DIM))
    rows.append((102, [1e-8] * DIM))
    rows.append((103, rows[0][1]))          # duplicate of vec 0
    rows.append((104, [7.5] + [0.0] * (DIM - 1)))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_bucket_vectorized_matches_expression(edge_vectors):
    for planes in (1, 6, 12):
        old = edge_vectors.select(
            "vec_id",
            sim.lsh_bucket_expr(F.col("embedding"), planes, DIM)
            .alias("bucket"),
        )
        new = edge_vectors.select(
            "vec_id",
            sim.lsh_bucket_vectorized(planes, DIM)(F.col("embedding"))
            .alias("bucket"),
        )
        assert sorted(old.collect()) == sorted(new.collect())


def test_ivf_assign_vectorized_matches_expression(edge_vectors):
    cents = sim.ivf_centroids(edge_vectors, 8)
    old = edge_vectors.select(
        "vec_id",
        sim.ivf_assign_expr(F.col("embedding"), cents).alias("b"),
    ).select("vec_id", "b.dist", "b.cell")
    new = edge_vectors.select(
        "vec_id",
        sim.ivf_assign_vectorized(cents)(F.col("embedding")).alias("b"),
    ).select("vec_id", "b.dist", "b.cell")
    assert sorted(old.collect()) == sorted(new.collect())


def test_ivf_assign_vectorized_tie_breaks_to_lowest_cell(spark):
    # two identical centroids -> equal dist; array_min picks the lower
    # cell, argmin must match (first occurrence)
    v = [1.0, 2.0, -3.0, 0.5]
    cents = [(0, v), (1, v), (2, [10.0, 10.0, 10.0, 10.0])]
    df = spark.createDataFrame(
        [(0, v), (1, [1.1, 2.0, -3.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    old = df.select(
        "vec_id", sim.ivf_assign_expr(F.col("embedding"), cents).alias("b")
    ).select("vec_id", "b.dist", "b.cell").collect()
    new = df.select(
        "vec_id",
        sim.ivf_assign_vectorized(cents)(F.col("embedding")).alias("b"),
    ).select("vec_id", "b.dist", "b.cell").collect()
    assert sorted(old) == sorted(new)
    assert all(r["cell"] == 0 for r in new if r["vec_id"] == 0)


def test_join_key_udfs_are_pure_across_arrow_batch_sizes(spark, edge_vectors):
    """lsh_bucket_vectorized and ivf_assign_vectorized are marked
    asNondeterministic only so the optimizer evaluates each once per join
    side; that is sound because a row's value depends on that row alone.
    One row per Arrow batch and every row in one batch give the same
    rows, and both equal the expression folds."""
    one = edge_vectors.coalesce(1)
    cents = sim.ivf_centroids(edge_vectors, 8)
    cases = [
        (sim.lsh_bucket_expr(F.col("embedding"), 12, DIM),
         sim.lsh_bucket_vectorized(12, DIM)(F.col("embedding"))),
        (sim.ivf_assign_expr(F.col("embedding"), cents),
         sim.ivf_assign_vectorized(cents)(F.col("embedding"))),
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key, None)
    for fold, udf in cases:
        want = sorted(one.select("vec_id", fold.alias("v")).collect())
        got = sorted(one.select("vec_id", udf.alias("v")).collect())
        spark.conf.set(key, "1")
        try:
            per_row = sorted(one.select("vec_id", udf.alias("v")).collect())
        finally:
            if default is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, default)
        assert per_row == got == want


def test_quantized_self_dot_vectorized_matches_expression(edge_vectors):
    old = edge_vectors.select(
        "vec_id",
        sim.quantized_dot(F.col("embedding"), F.col("embedding"))
        .alias("q"),
    )
    new = edge_vectors.select(
        "vec_id",
        sim.quantized_self_dot_vectorized(F.col("embedding")).alias("q"),
    )
    assert sorted(old.collect()) == sorted(new.collect())


def test_csim_packed_layout_matches_unpacked(spark):
    """cosine_similarity_series ships (seq, intensity) as one packed long
    when both are non-nullable ints (round 15); the packed and unpacked
    layouts must agree bit-exactly. Same rows fed through both paths via
    the nullability gate (nullable columns take the legacy layout)."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from xrddatapipeline_spark.plans.image_pipeline import (
        cosine_similarity_series,
    )

    rng = np.random.default_rng(42)
    rows = []
    for ds in ("a", "b"):
        for seq in range(4):
            for y in range(8):
                for x in range(8):
                    rows.append(
                        (ds, seq, f"{ds}-{seq:03d}", y, x,
                         int(rng.integers(-50, 4000)))
                    )
    # one blank frame (zero norm -> NULL csim) and negative intensities
    rows = [
        (ds, seq, iid, y, x, 0 if (ds, seq) == ("a", 2) else v)
        for (ds, seq, iid, y, x, v) in rows
    ]

    def schema(nullable: bool) -> StructType:
        return StructType([
            StructField("dataset", StringType(), False),
            StructField("seq", IntegerType(), nullable),
            StructField("image_id", StringType(), False),
            StructField("y", IntegerType(), False),
            StructField("x", IntegerType(), False),
            StructField("intensity", IntegerType(), nullable),
        ])

    packed = cosine_similarity_series(
        spark.createDataFrame(rows, schema(False))
    )
    legacy = cosine_similarity_series(
        spark.createDataFrame(rows, schema(True))
    )
    # confirm the gate actually routed differently: the packed plan packs
    # seq into the shuffled long (shiftleft(seq, 32)), the legacy one not
    packed_plan = packed._jdf.queryExecution().analyzed().toString()
    legacy_plan = legacy._jdf.queryExecution().analyzed().toString()
    assert "shiftleft(cast(seq" in packed_plan
    assert "shiftleft(cast(seq" not in legacy_plan
    assert sorted(packed.collect()) == sorted(legacy.collect())


def test_lsh_topk_matches_expression_form(edge_vectors):
    """End-to-end pin: the round-15 lsh_topk (vectorized bucket + norms +
    pair dot) equals the pre-r15 expression formulation row for row."""
    queries = edge_vectors.where(F.col("vec_id") < 4)
    new = sim.lsh_topk(edge_vectors, queries, k=3, num_planes=6)

    # pre-r15 formulation, inlined
    from pyspark.sql import Window

    bucket = sim.lsh_bucket_expr(F.col("embedding"), 6, DIM)
    corp = edge_vectors.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vb"),
        sim.quantized_dot(F.col("embedding"), F.col("embedding")).alias("qb"),
        bucket.alias("bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("va"),
        sim.quantized_dot(F.col("embedding"), F.col("embedding")).alias("qa"),
        bucket.alias("bucket"),
    )
    scored = (
        F.broadcast(q).join(corp, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            sim.cosine_from_quantized(
                sim.quantized_dot(F.col("va"), F.col("vb")),
                F.col("qa"), F.col("qb"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    old = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", "cos")
    )
    assert sorted(old.collect()) == sorted(new.collect())


@pytest.fixture(scope="module")
def bad_vectors(spark):
    """Valid rows mixed with every vector the UDFs once crashed on: a
    NULL vector, a NULL element, one shorter and one longer than DIM,
    and an empty one."""
    rng = np.random.default_rng(1511)
    good = [[float(x) for x in rng.standard_normal(DIM) * 2] for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(good)]
    rows += [
        (10, None),
        (11, [1.0, None] + [0.5] * (DIM - 2)),
        (12, [1.0] * (DIM - 3)),
        (13, [-0.5] * (DIM + 2)),
        (14, []),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vectorized_udfs_match_folds_on_null_and_ragged_vectors(bad_vectors):
    """Each Arrow UDF gives the expression fold's value on NULL, ragged
    and NULL-element vectors (NULL dots, a NULL ivf distance, the fold's
    all-'0' LSH bucket) instead of crashing its Python worker, and the
    valid rows in the same batch keep their exact values."""
    one = bad_vectors.coalesce(1)  # every row in one Arrow batch
    cents = [(0, [1.0] * DIM), (3, [-1.0] + [0.0] * (DIM - 1))]
    pairs = one.alias("l").crossJoin(one.alias("r")).select(
        F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"),
        F.col("l.embedding").alias("va"), F.col("r.embedding").alias("vb"),
    ).coalesce(1)
    cases = [
        (pairs, ["a", "b"],
         sim.quantized_dot(F.col("va"), F.col("vb")),
         sim.quantized_dot_vectorized(F.col("va"), F.col("vb"))),
        (one, ["vec_id"],
         sim.quantized_dot(F.col("embedding"), F.col("embedding")),
         sim.quantized_self_dot_vectorized(F.col("embedding"))),
        (one, ["vec_id"],
         sim.lsh_bucket_expr(F.col("embedding"), 6, DIM),
         sim.lsh_bucket_vectorized(6, DIM)(F.col("embedding"))),
        (one, ["vec_id"],
         sim.ivf_assign_expr(F.col("embedding"), cents),
         sim.ivf_assign_vectorized(cents)(F.col("embedding"))),
    ]
    for df, keys, fold, udf in cases:
        old = sorted(df.select(*keys, fold.alias("v")).collect())
        new = sorted(df.select(*keys, udf.alias("v")).collect())
        assert old == new
    nulls = {
        r.vec_id for r in one.select(
            "vec_id",
            sim.quantized_self_dot_vectorized(F.col("embedding")).alias("q"),
        ).collect() if r.q is None
    }
    assert nulls == {10, 11}
