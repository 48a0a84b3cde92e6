"""Round-14 parity pins: the mapInPandas rewrites (simhash64,
minhash_wide, winnow_fingerprints) and the M2+M1 close+label fusion must
be BIT-IDENTICAL to the expression/split formulations they replaced.
Each test inlines the previous formulation and asserts exact equality —
beyond the oracle rows, these cover edge shapes (empty string, multiple
spaces, unicode, NULL text) the sf corpora may not exercise."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xrddatapipeline_spark.operators import text as tx
from xrddatapipeline_spark.operators.text import (
    MINHASH_MOD,
    _minhash_perm,
    md5_prefix_long,
    tokens_col,
)


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "double  space and trailing "),
        (3, ""),                      # "" -> [""] single empty token
        (4, None),                    # NULL text -> no output row
        (5, "unicode tøkens ünd ☃ snowman über alles today friends"),
        (6, "a"),                     # shorter than any k-gram window
        (7, "x " * 40),               # highly repetitive
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash64_matches_expression_form(edge_docs):
    # previous formulation (pre-r14): explode tokens, md5 prefix longs,
    # 64 shift/mask vote sums in one aggregation
    toks = edge_docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        md5_prefix_long(F.col("tok"), 8, start=0).alias("h_hi"),
        md5_prefix_long(F.col("tok"), 8, start=8).alias("h_lo"),
    )

    def bit(p: int):
        src, sh = ("h_hi", 31 - p) if p < 32 else ("h_lo", 63 - p)
        return F.shiftright(F.col(src), sh).bitwiseAND(F.lit(1))

    votes = toks.groupBy("doc_id").agg(
        *[F.sum(2 * bit(p) - 1).alias(f"v_{p}") for p in range(64)]
    )
    old = votes.select(
        "doc_id",
        F.concat(*[
            F.when(F.col(f"v_{p}") > 0, "1").otherwise("0")
            for p in range(64)
        ]).alias("simhash"),
    ).toPandas().set_index("doc_id").sort_index()

    new = tx.simhash64(edge_docs).toPandas().set_index("doc_id").sort_index()
    assert list(new.index) == list(old.index)  # NULL doc dropped by both
    assert (new.simhash == old.simhash).all()


def test_minhash_wide_matches_expression_form(edge_docs, spark):
    sh = tx.word_shingles(
        edge_docs.where("text is not null"), n=2
    )
    num = 16
    hashed = sh.select(
        "doc_id",
        (md5_prefix_long(F.col("shingle")) % MINHASH_MOD).alias("h"),
    )
    old = hashed.groupBy("doc_id").agg(
        *[F.min(_minhash_perm(s)).alias(f"m_{s}") for s in range(num)]
    ).toPandas().set_index("doc_id").sort_index()

    new = tx.minhash_wide(sh, num_hashes=num).toPandas().set_index(
        "doc_id"
    ).sort_index()
    pd.testing.assert_frame_equal(new, old)


def test_minhash_wide_exact_under_any_partitioning(edge_docs):
    # partial-min-then-min must not depend on how shingle rows split
    sh = tx.word_shingles(edge_docs.where("text is not null"), n=2)
    one = tx.minhash_wide(sh.coalesce(1), num_hashes=8).toPandas()
    many = tx.minhash_wide(sh.repartition(7), num_hashes=8).toPandas()
    one = one.set_index("doc_id").sort_index()
    many = many.set_index("doc_id").sort_index()
    pd.testing.assert_frame_equal(one, many)


def test_winnow_matches_expression_form(edge_docs):
    k, w = 4, 3
    # previous formulation (pre-r14): per-doc array expressions behind
    # Generate boundaries
    t = F.col("text")
    n_g = F.length("text") - (k - 1)
    hs_expr = F.transform(
        F.sequence(F.lit(1), n_g),
        lambda i: F.md5(t.substr(i, F.lit(k))),
    )
    with_hs = (
        edge_docs.where(n_g - (w - 1) >= 1)
        .select("doc_id", F.explode(F.array(hs_expr)).alias("hs"))
    )
    wmins_expr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - (w - 1)),
            lambda i: F.array_min(F.slice("hs", i, w)),
        )
    )
    with_wm = with_hs.select(
        "doc_id", F.explode(F.array(wmins_expr)).alias("wm")
    )
    old = with_wm.select(
        "doc_id",
        F.size("wm").alias("n_fingerprints"),
        F.array_min("wm").alias("min_fp"),
        F.array_max("wm").alias("max_fp"),
    ).toPandas().set_index("doc_id").sort_index()

    new = tx.winnow_fingerprints(
        edge_docs, k=k, w=w
    ).toPandas().set_index("doc_id").sort_index()
    assert list(new.index) == list(old.index)  # short/NULL docs dropped
    pd.testing.assert_frame_equal(new, old)


def test_close_and_label_matches_split_form(spark):
    from xrddatapipeline_spark.operators.raster import (
        close_and_label_pixels,
        close_mask_pixels,
        label_pixels,
    )

    shape = (48, 40)
    rng = np.random.default_rng(42)
    rows = []
    for img in ("img_a", "img_b"):
        ys, xs = np.nonzero(rng.random(shape) < 0.04)
        rows += [(img, int(y), int(x)) for y, x in zip(ys, xs)]
    df = spark.createDataFrame(rows, "image_id string, y int, x int")

    split = label_pixels(
        close_mask_pixels(df, shape=shape, radius=1),
        shape=shape, connectivity=2,
    ).toPandas()
    fused = close_and_label_pixels(
        df, shape=shape, radius=1, connectivity=2
    ).toPandas()
    key = ["image_id", "y", "x"]
    split = split.sort_values(key).reset_index(drop=True)
    fused = fused.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        fused[split.columns.tolist()], split
    )


def test_brute_force_topk_matches_expression_form(spark):
    # previous formulation (pre-r14 vectorization): broadcast queries,
    # crossJoin, per-pair expression fold, rank window — inlined here as
    # the bit-exactness pin for the mapInPandas local-top-k rewrite.
    # Corpus includes a zero-norm vector (NULL cos must sort last) and an
    # exact-duplicate pair (cos ties broken by neighbor_id).
    from pyspark.sql import Window

    from xrddatapipeline_spark.operators import similarity as sim
    from xrddatapipeline_spark.operators.similarity import (
        cosine_from_quantized,
        norms,
        quantized_dot,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    vecs[13] = 0.0                      # zero-norm corpus vector
    vecs[21] = vecs[5]                  # exact duplicate -> cos tie
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(3)
    queries = df.where(F.col("vec_id").isin(0, 5, 13))  # incl. zero-norm q

    corp = norms(df).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vb"), F.col("qnorm").alias("qb"),
    )
    q = norms(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("va"), F.col("qnorm").alias("qa"),
    )
    scored = (
        F.broadcast(q).crossJoin(corp)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            cosine_from_quantized(
                quantized_dot(F.col("va"), F.col("vb")),
                F.col("qa"), F.col("qb"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    old = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cos")
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)

    new = sim.brute_force_topk(df, queries, k=5).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(new, old)


def test_minhash_buckets_distinct_equals_multiset(edge_docs):
    # min is idempotent over duplicates: signatures (hence band buckets)
    # from the DISTINCT shingle set must equal those from the raw multiset
    # — the invariant dedup_minhash_pairs' shared-frame rewrite rests on
    sh = tx.word_shingles(edge_docs.where("text is not null"), n=2)
    raw = tx.minhash_buckets(sh, 16, 4).toPandas()
    dst = tx.minhash_buckets(sh.distinct(), 16, 4).toPandas()
    key = ["doc_id", "band"]
    raw = raw.sort_values(key).reset_index(drop=True)
    dst = dst.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(dst, raw)


def test_shingle_jaccard_assume_distinct_parity(edge_docs, spark):
    sh = tx.word_shingles(edge_docs.where("text is not null"), n=2)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 7), (2, 5)], "doc_a long, doc_b long"
    )
    base = tx.shingle_jaccard(sh, pairs=pairs).toPandas()
    fast = tx.shingle_jaccard(
        sh.distinct(), pairs=pairs, assume_distinct=True
    ).toPandas()
    key = ["doc_a", "doc_b"]
    base = base.sort_values(key).reset_index(drop=True)
    fast = fast.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(fast, base)


def test_h_maxima_per_qbin_matches_numpy_oracle(spark):
    # the kernel feed carries no qbin: it is re-attached to the sparse
    # maxima by the closed-form calibration expressions. Oracle: run the
    # kernel on the numpy frame, look up each maximum's qbin in the
    # reference calib table, count per qbin
    import dataclasses

    from tests.test_image_pipeline import CONTROLS
    from xrddatapipeline_spark.calib.cache import build_calib_pixels
    from xrddatapipeline_spark.operators import kernels
    from xrddatapipeline_spark.plans.image_pipeline import h_maxima_per_qbin

    c = dataclasses.replace(CONTROLS, size_x=48, size_y=48)
    rng = np.random.default_rng(11)
    img = 10 + rng.integers(0, 5, size=(48, 48))
    # plant maxima
    for y, x, v in [(5, 5, 500), (20, 30, 400), (40, 8, 350)]:
        img[y, x] = v
    px = spark.createDataFrame(
        [("im-a", y, x, int(img[y, x])) for y in range(48) for x in range(48)],
        "image_id string, y int, x int, intensity int",
    )
    spot = spark.createDataFrame(
        [("im-a", 5, 5)], "image_id string, y int, x int"
    )
    got = h_maxima_per_qbin(px, spot, c).toPandas()

    hval = float(int(0.05 * float(np.percentile(img, 99.9))))
    ys, xs = np.nonzero(kernels.h_maxima(img.astype(np.float64), hval))
    calib = build_calib_pixels(spark, c).select("y", "x", "qbin").toPandas()
    qbin = np.empty((48, 48), dtype=np.int64)
    qbin[calib["y"], calib["x"]] = calib["qbin"]
    want = pd.DataFrame({
        "qbin": qbin[ys, xs],
        "spot": (ys == 5) & (xs == 5),
    }).query("qbin >= 0").groupby("qbin").agg(
        n_maxima=("spot", "size"), n_spot_maxima=("spot", "sum"),
    ).reset_index()
    assert len(want) > 0
    got = got.sort_values("qbin").reset_index(drop=True)
    assert list(got["image_id"].unique()) == ["im-a"]
    np.testing.assert_array_equal(got["qbin"], want["qbin"])
    np.testing.assert_array_equal(got["n_maxima"], want["n_maxima"])
    np.testing.assert_array_equal(got["n_spot_maxima"], want["n_spot_maxima"])
