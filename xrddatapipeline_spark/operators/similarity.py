"""Embedding similarity: quantized cosine, brute-force top-k, hyperplane LSH.

Generalizes the reference's image cosine-similarity stage (pipeline.py:546-553
— dot(a,b)/sqrt(dot(a,a) dot(b,b)) over flattened images) to corpus-scale
similarity search over an `array<float>` embedding column.

Cross-engine float parity: a sum of doubles is order-dependent, so a naive
`sum(a*b)` can differ in the last ulp between Spark and an oracle engine.
Every dot product here is computed as an INTEGER sum of per-element
`floor(a*b * 2^40)` terms — products of float32 pairs are exact in double,
the floor is deterministic, and integer addition is order-independent — so
the resulting cosine (bigint / sqrt(bigint*bigint)) is bit-identical in any
IEEE-754 engine. Error vs the true cosine is < dim/2^40 (~6e-11 at dim=64).

Scale notes: brute-force top-k is the small-query-set baseline (broadcast
the query vectors, one pass over the corpus, partial top-k per partition via
the rank window under AQE). The LSH variant buckets the corpus once
(O(n·dim·planes) map-side, shuffle O(n)) and joins queries to buckets —
the 100 TB path, since the per-bucket candidate set is ~n/2^planes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

QSCALE = float(2 ** 40)  # quantization scale for order-independent dot sums


def _length_groups(*cols: pd.Series, dim: int | None = None):
    """The rows the expression folds give a value, by vector length.

    Yields ``(rows, mats)`` per length L: ``rows`` indexes the rows where
    every argument is a non-NULL length-L vector with no NULL element
    (L = ``dim`` when given), and ``mats`` holds each argument's float64
    ``(len(rows), L)`` matrix. The folds give NULL on every other row:
    ``zip_with`` pads a shorter vector with NULL, and one NULL term nulls
    the whole ``aggregate``. A NULL float element reaches pandas as NaN,
    so a row with a NaN element is left out as well. Only these rows are
    stacked, so a NULL or ragged vector never reaches ``np.stack``."""
    arrs = [c.to_numpy() for c in cols]
    lens = [
        np.fromiter((-1 if v is None else len(v) for v in a), np.int64, len(a))
        for a in arrs
    ]
    n = lens[0].copy()
    for other in lens[1:]:
        n[other != n] = -1
    if dim is not None:
        n[n != dim] = -1
    for width in np.unique(n[n >= 0]):
        rows = np.flatnonzero(n == width)
        mats = [np.stack(a[rows]).astype(np.float64) for a in arrs]
        ok = ~np.logical_or.reduce([np.isnan(m).any(axis=1) for m in mats])
        yield rows[ok], [m[ok] for m in mats]


def _quantized_dots(*cols: pd.Series) -> pd.Series:
    """sum_d floor(a_d * b_d * 2^40) per row over the vector columns
    ``(a, b)``, or ``(a,)`` for the self-dot; NULL where the expression
    fold is NULL (see ``_length_groups``)."""
    out = np.zeros(len(cols[0]), dtype=np.int64)
    valid = np.zeros(len(cols[0]), dtype=bool)
    for rows, mats in _length_groups(*cols):
        out[rows] = np.floor(mats[0] * mats[-1] * QSCALE).sum(axis=1)
        valid[rows] = True
    return pd.Series(pd.arrays.IntegerArray(out, ~valid))


# DataType instance (not a DDL string): the UDF is defined at import time,
# before any SparkSession exists to parse DDL
@pandas_udf(LongType())
def quantized_dot_vectorized(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized quantized dot: numpy computes the SAME integers as
    `quantized_dot` (float64 products of float32 pairs are exact; floor of
    values < 2^53 is exact; the integer-valued float64 sum stays < 2^53),
    ~100x faster than the interpreted fold on all-pairs workloads. NULL
    where the fold is NULL: a NULL vector or element, or a and b of
    different lengths."""
    return _quantized_dots(a, b)


@pandas_udf(LongType())
def quantized_self_dot_vectorized(a: pd.Series) -> pd.Series:
    """`quantized_dot_vectorized(v, v)` with the vector crossing the Arrow
    boundary ONCE (a two-arg call ships both argument columns, so the
    self-dot would ship the embedding twice). Same integers as
    `quantized_dot(v, v)` by the argument above, and NULL for a NULL
    vector or element; vectors of different lengths in one batch each
    get their own self-dot, as in the fold."""
    return _quantized_dots(a)


def lsh_bucket_vectorized(num_planes: int, dim: int):
    """Arrow-vectorized `lsh_bucket_expr` (round 15, guide §4.2): the
    num_planes interpreted `aggregate(zip_with(...))` folds per row —
    CodegenFallback, evaluated per element — become one numpy pass per
    Arrow batch. BIT-IDENTICAL: per plane the integer sum
    sum_d floor(w(p,d)*x_d*2^40) is exact in float64 (products of float32
    values with half-integer weights |w|<=7.5 are exact doubles; *2^40 is
    a power-of-two scale; floor exact; 64 integer-valued terms < 2^47
    each sum to < 2^53), so the >= 0 sign bits — and the '0'/'1' string —
    match the expression fold bit for bit (pinned by
    tests/test_r15_parity.py)."""
    wmat = np.asarray(hyperplane_matrix(num_planes, dim), dtype=np.float64)

    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _bucket(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        # a row the fold sums to NULL (NULL or ragged vector, NULL
        # element) reads '0' on every plane there: when(NULL >= 0) falls
        # through to otherwise('0')
        bits = np.full((len(v), num_planes), ord("0"), dtype=np.uint8)
        for rows, (mat,) in _length_groups(v, dim=dim):
            for p in range(num_planes):
                q = np.floor(mat * wmat[p][None, :] * QSCALE).sum(axis=1)
                bits[rows, p] = np.where(q >= 0, ord("1"), ord("0"))
        # one fixed-width bytes value per row, decoded without a Python
        # loop: an (n, planes) uint8 C-array viewed as S<planes>
        s = np.ascontiguousarray(bits).view(f"S{num_planes}").ravel()
        return pd.Series(s).str.decode("ascii")

    # the bucket becomes a JOIN KEY: the optimizer pushes the generated
    # isnotnull(key) filter below the projection and EVALUATES THE UDF
    # TWICE per side (guide §4.4 — two ArrowEvalPython nodes per scan,
    # observed in the r15 plan). The function is pure, so marking it
    # non-deterministic only forbids that duplication; one Arrow pass per
    # side remains (one ArrowEvalPython per scan in ann_lsh_bucketed's
    # formatted explain).
    return _bucket.asNondeterministic()


def ivf_assign_vectorized(centroids: "list[tuple[int, list[float]]]"):
    """Arrow-vectorized `ivf_assign_expr` (round 15, guide §4.2): the
    per-row array-of-structs argmin over k interpreted quantized-dot
    folds becomes one numpy pass per Arrow batch, returning the same
    struct<dist, cell>. BIT-IDENTICAL: qx/qdot/qnorm are the exact
    integers of `quantized_dot` (see quantized_dot_vectorized), combined
    as int64 arithmetic (the float64 partial sums are integer-valued
    < 2^53, cast to int64 BEFORE the dist combination so qx - 2*qd +
    qnorm never rounds), and np.argmin's first-minimum tie-break equals
    F.array_min's (dist, cell) struct order because `centroids` is
    cell-ascending by construction (ivf_centroids enumerates). Pinned by
    tests/test_r15_parity.py."""
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    cells = np.asarray([c for c, _ in centroids], dtype=np.int64)
    assert (np.diff(cells) > 0).all(), "centroids must be cell-ascending"
    cnorm = (
        np.floor(cmat * cmat * QSCALE).sum(axis=1).astype(np.int64)
    )

    @pandas_udf("dist long, cell int")
    def _assign(v: pd.Series) -> pd.DataFrame:
        if not len(v):
            return pd.DataFrame({"dist": pd.Series([], dtype=np.int64),
                                 "cell": pd.Series([], dtype=np.int32)})
        # a row whose distances the fold nulls (NULL or ragged vector,
        # NULL element) gets dist NULL and the lowest cell there:
        # array_min orders the (NULL, cell) structs NULL first, then by cell
        dist = np.zeros(len(v), dtype=np.int64)
        valid = np.zeros(len(v), dtype=bool)
        cell = np.full(len(v), cells[0], dtype=np.int32)
        for rows, (mat,) in _length_groups(v, dim=cmat.shape[1]):
            qx = np.floor(mat * mat * QSCALE).sum(axis=1).astype(np.int64)
            d = np.empty((len(mat), len(cells)), dtype=np.int64)
            for j in range(len(cells)):
                qd = (
                    np.floor(mat * cmat[j][None, :] * QSCALE)
                    .sum(axis=1)
                    .astype(np.int64)
                )
                d[:, j] = qx - 2 * qd + cnorm[j]
            best = np.argmin(d, axis=1)
            dist[rows] = d[np.arange(len(mat)), best]
            cell[rows] = cells[best]
            valid[rows] = True
        return pd.DataFrame(
            {"dist": pd.arrays.IntegerArray(dist, ~valid), "cell": cell}
        )

    # same §4.4 duplication guard as lsh_bucket_vectorized: the extracted
    # cell is a join key in ivf_topk, and the pushed isnotnull filter
    # would otherwise evaluate the whole assignment twice per side
    return _assign.asNondeterministic()


def quantized_dot(a: Column, b: Column) -> Column:
    """Order-independent integer dot product: sum(floor(a_i*b_i * 2^40))."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(QSCALE)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_from_quantized(qdot: Column, qa: Column, qb: Column) -> Column:
    """cos from pre-computed quantized dots, NULL when either vector has
    zero norm. Spark 4's default ANSI mode raises DIVIDE_BY_ZERO even
    for double division (round 13 — a zero/padding embedding or a blank
    frame killed the whole job); the reference's numpy divide yields
    nan there, and NULL is the relational analog: it sorts last under
    the .desc() top-k windows and fails every `> threshold` dedup
    predicate, so zero vectors drop out of neighbor lists instead of
    crashing the query."""
    denom = F.sqrt(qa.cast("double") * qb.cast("double"))
    return F.when(denom > 0, qdot.cast("double") / denom)


def quantized_cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine from quantized integer dot products; NULL for
    zero-norm inputs (see cosine_from_quantized)."""
    return cosine_from_quantized(
        quantized_dot(a, b), quantized_dot(a, a), quantized_dot(b, b)
    )


def norms(df: DataFrame, vec_col: str = "embedding",
          id_col: str = "vec_id") -> DataFrame:
    """Per-vector quantized squared norm (reusable across pair joins)."""
    return df.select(
        id_col, vec_col,
        quantized_dot(F.col(vec_col), F.col(vec_col)).alias("qnorm"),
    )


def cosine_pairs(df: DataFrame, min_cos: float, vec_col: str = "embedding",
                 id_col: str = "vec_id", max_broadcast: int = 500_000) -> DataFrame:
    """All-pairs cosine >= min_cos. O(n^2) — correctness baseline; the LSH
    route below is the scale path for n beyond broadcast range.

    Shape: the corpus matrix is broadcast ONCE (ids + float matrix, ~0.5 KB
    per vector) and each task scores its partition's rows against it with
    vectorized numpy — vectors cross the wire once, not once per pair,
    which beats any pair-join formulation by the average pair multiplicity.
    Identical integers to `quantized_dot` (see quantized_dot_vectorized),
    so the output doubles are bit-equal to the expression path and the
    SQL oracle."""
    n_corpus = df.count()
    if n_corpus > max_broadcast:
        raise ValueError(
            f"cosine_pairs is the O(n^2) baseline; n={n_corpus} exceeds "
            f"broadcast range — use lsh_topk / bucketed variants at scale"
        )
    rows = df.select(id_col, vec_col).collect()
    ids_arr = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    bcast = df.sparkSession.sparkContext.broadcast((ids_arr, mat))

    def _score(batches):
        ids_b, mat_b = bcast.value
        qnorm_b = np.floor(mat_b * mat_b * QSCALE).sum(axis=1)
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for id_a, va in zip(pdf[id_col], pdf[vec_col]):
                va64 = np.asarray(va, dtype=np.float64)
                qd = np.floor(mat_b * va64 * QSCALE).sum(axis=1)
                qa = np.floor(va64 * va64 * QSCALE).sum()
                # zero-norm vectors: 0/0 -> nan, dropped by the >= filter
                # below — the same drop-out the expression path's NULL
                # guard produces (cosine_from_quantized)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = qd / np.sqrt(qa * qnorm_b)
                sel = (cos >= min_cos) & (ids_b > id_a)
                out_a.append(np.full(sel.sum(), id_a, dtype=np.int64))
                out_b.append(ids_b[sel])
                out_c.append(cos[sel])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cos": np.concatenate(out_c),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        _score, schema="id_a long, id_b long, cos double"
    )


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Round-14 formulation (guide §4.1/4.2): the query vectors are collected
    and broadcast once; each corpus partition scores its rows against them
    with vectorized numpy and emits only its LOCAL top-k candidates per
    query; the global rank window then runs over ~queries*k*partitions rows
    instead of queries*corpus. The per-pair expression fold this replaces
    (`F.aggregate(zip_with(...))` per (query, corpus) pair) ran interpreted
    — profiled at ~50 run core-s for 8x10k pairs at dim 64 — where numpy
    does the same integers in milliseconds.

    Exactness: the quantized integers are identical to `quantized_dot`
    (float64 products of float32 pairs are exact, *2^40 is a power-of-two
    scale, floor exact, integer-valued float64 sum < 2^53 — see
    quantized_dot_vectorized), and cos = qd / sqrt(double(qa)*double(qb))
    applies the same IEEE ops in the same order as cosine_from_quantized.
    Zero-norm operands produce nan locally, mapped to NULL before the
    window (isnan -> NULL), so they sort last under `cos DESC` exactly like
    the expression path's NULL guard. A partition's top-k under the total
    order (cos DESC NULLS LAST, neighbor_id ASC) is a superset of its
    contribution to the global top-k, so the window output is unchanged.
    """
    import numpy as np
    import pandas as pd

    rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = np.array([r[1] for r in rows], dtype=np.float64)
    if len(rows):
        qnorm = np.floor(qmat * qmat * QSCALE).sum(axis=1)
    else:  # degenerate: no queries -> empty result (schema preserved)
        qnorm = np.zeros(0)
    bcast = df.sparkSession.sparkContext.broadcast((qids, qmat, qnorm))

    def _score(batches):
        qids_b, qmat_b, qnorm_b = bcast.value
        for pdf in batches:
            if not len(pdf) or not len(qids_b):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qb = np.floor(mat * mat * QSCALE).sum(axis=1)
            out_q, out_n, out_c = [], [], []
            for qid, qvec, qa in zip(qids_b, qmat_b, qnorm_b):
                qd = np.floor(mat * qvec[None, :] * QSCALE).sum(axis=1)
                denom = np.sqrt(qa * qb)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(denom > 0, qd / denom, np.nan)
                sel = ids != qid
                c, i = cos[sel], ids[sel]
                # total order (cos DESC, id ASC), nan last (np.lexsort
                # sorts nan to the end of the primary key, matching
                # NULLS LAST): the first k rows are this batch's entire
                # possible contribution to the global top-k
                order = np.lexsort((i, -c))[:k]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(i[order])
                out_c.append(c[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    cand = df.select(id_col, vec_col).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cos double"
    )
    # nan (zero-norm operand) -> NULL: identical ordering + predicate
    # semantics to the expression path's NULL guard
    scored = cand.withColumn(
        "cos", F.when(~F.isnan("cos"), F.col("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def hyperplane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-7.5, 7.5]:
    first md5 nibble of 'plane_dim' minus 7.5. Computed driver-side
    (hashlib md5 == any engine's md5; half-integers are exact doubles),
    matching the SQL-oracle formulation nibble-for-nibble."""
    h = hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()
    return float(int(h[0], 16)) - 7.5


def hyperplane_matrix(num_planes: int, dim: int) -> list[list[float]]:
    """The num_planes x dim weight matrix as plain Python lists (for F.lit)."""
    return [
        [hyperplane_weight(p, d) for d in range(dim)]
        for p in range(num_planes)
    ]


def lsh_bucket_expr(vec: Column, num_planes: int, dim: int) -> Column:
    """Sign-LSH bucket as a single shuffle-free projection expression:
    bit_p = (sum_d floor(w(p,d)*x_d*2^40) >= 0), bucket = the num_planes-char
    '0'/'1' string. The weights are 384 driver-side constants baked in as
    array literals, so the whole bucket is one map-side expression — no
    explode, no aggregation shuffle (the old formulation exploded
    n*dim*planes rows through two hash-agg shuffles)."""
    planes = hyperplane_matrix(num_planes, dim)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec, F.lit(w),
                    lambda x, wc: F.floor(
                        x.cast("double") * wc * F.lit(QSCALE)
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ) >= 0,
            "1",
        ).otherwise("0")
        for w in planes
    ]
    return F.concat(*bits)


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row (uniform-width corpus)."""
    row = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if row is None:
        return 0
    return int(row["n"])


def lsh_buckets(df: DataFrame, num_planes: int = 6,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, bucket) per vector via `lsh_bucket_expr` — one narrow projection
    over the scan, zero shuffles."""
    dim = _vec_dim(df, vec_col)
    return df.select(
        id_col,
        lsh_bucket_expr(F.col(vec_col), num_planes, dim).alias("bucket"),
    )


def ivf_centroids(df: DataFrame, num_cells: int, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer centroids: the `num_cells` corpus
    vectors with lexicographically smallest md5(vec_id) (a deterministic
    uniform sample — engine-portable, unlike k-means init). Cells are
    numbered 0..num_cells-1 in that md5 order. At production scale these
    seeds would be refined with a few offline Lloyd iterations; cell
    ASSIGNMENT below is the same either way."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(num_cells)
        .collect()
    )
    return [(i, list(r[1])) for i, r in enumerate(rows)]


def ivf_assign_expr(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid assignment as one shuffle-free expression: a
    struct<dist, cell> holding the integer squared distance
    qnorm(x) - 2*qdot(x,c) + qnorm(c) to the winning centroid (all exact
    int64 via the quantized dots), argmin by (dist, cell). The centroid
    matrix is a driver-side literal, so assignment is a map-side
    projection — the IVF scale property: corpus bucketing costs one scan,
    queries probe one cell."""
    def qconst(v: list[float]) -> int:
        a = np.asarray(v, dtype=np.float64)
        return int(np.floor(a * a * QSCALE).sum())

    qx = quantized_dot(vec, vec)
    cands = F.array(*[
        F.struct(
            (qx - 2 * quantized_dot(vec, F.lit(cvec)) + F.lit(qconst(cvec)))
            .alias("dist"),
            F.lit(cell).alias("cell"),
        )
        for cell, cvec in centroids
    ])
    return F.array_min(cands)


def ivf_cell_expr(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Winning cell id of `ivf_assign_expr` (kept as the common surface)."""
    return ivf_assign_expr(vec, centroids)["cell"]


def semantic_dedup_ivf(
    df: DataFrame,
    min_cos: float = 0.45,
    num_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic near-dup pairs (cosine >= min_cos) restricted to IVF
    coarse-quantizer cells — the scale-correct counterpart to the O(n^2)
    `cosine_pairs` baseline: pair candidates are generated by a cell-key
    equi-join (each vector lives in exactly one cell), so the pair space
    is sum(cell_i^2) instead of n^2, and num_cells scales with the corpus
    (cells ~ sqrt(n) keeps expected cell size ~sqrt(n)). Recall tradeoff
    is the standard IVF one: near-dups straddling a Voronoi boundary are
    missed at nprobe=1 — the documented semantic-dedup trade (dedup is
    tolerant to missing a fraction of dup pairs; LSH banding covers the
    complementary failure mode). Scores use the same exact-integer
    quantized dot as every similarity query (bit-equal to the DuckDB
    oracle)."""
    cents = ivf_centroids(df, num_cells, vec_col, id_col)
    asg = df.select(
        F.col(id_col),
        F.col(vec_col),
        quantized_dot(F.col(vec_col), F.col(vec_col)).alias("qnorm"),
        ivf_cell_expr(F.col(vec_col), cents).alias("cell"),
    )
    a, b = asg.alias("a"), asg.alias("b")
    cos = cosine_from_quantized(
        quantized_dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
        F.col("a.qnorm"), F.col("b.qnorm"),
    )
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= min_cos)
    )


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 3,
             num_cells: int = 8, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF-style ANN: partition the corpus into Voronoi cells of a coarse
    quantizer, probe the query's cell, exact-rerank inside (nprobe=1).
    Complements `lsh_topk` — IVF adapts to the data distribution (cells are
    real corpus vectors) where sign-LSH is data-oblivious. Same plan shape:
    narrow projections per side, broadcast query side, one rank-window
    shuffle with WindowGroupLimit partial top-k.

    Round 15 (guide §4.2): cell assignment, self-norms and the pair dot
    run through the Arrow-vectorized UDFs — identical integers to the
    interpreted expression folds (see ivf_assign_vectorized)."""
    cents = ivf_centroids(df, num_cells, vec_col, id_col)
    assign_udf = ivf_assign_vectorized(cents)
    corp = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"),
        quantized_self_dot_vectorized(F.col(vec_col)).alias("qb"),
        assign_udf(F.col(vec_col))["cell"].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("va"),
        quantized_self_dot_vectorized(F.col(vec_col)).alias("qa"),
        assign_udf(F.col(vec_col))["cell"].alias("cell"),
    )
    scored = (
        F.broadcast(q).join(corp, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            cosine_from_quantized(
                quantized_dot_vectorized(F.col("va"), F.col("vb")),
                F.col("qa"), F.col("qb"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def lsh_topk(df: DataFrame, queries: DataFrame, k: int = 3,
             num_planes: int = 6, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: candidates = corpus vectors in the query's LSH
    bucket, ranked by exact quantized cosine. Bucket join replaces the
    brute-force cross join — the 100 TB-scale route.

    Because the bucket is a pure projection expression (`lsh_bucket_expr`),
    each side is ONE narrow select over its scan — no bucket-table self-join.
    The only shuffles left are the broadcast-exchange of the (small) query
    side and the top-k rank window (which Spark's WindowGroupLimit turns
    into a map-side partial top-k before the exchange).

    Round 15 (guide §4.2): the per-row quantized folds (bucket bits +
    self-norms + per-candidate pair dot) run through the Arrow-vectorized
    UDFs instead of the interpreted `aggregate(zip_with(...))` expressions
    — identical integers (see each UDF's exactness argument), identical
    plan shape otherwise; only the embedding columns cross the Python
    boundary."""
    dim = _vec_dim(df, vec_col)
    bucket_udf = lsh_bucket_vectorized(num_planes, dim)
    corp = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"),
        quantized_self_dot_vectorized(F.col(vec_col)).alias("qb"),
        bucket_udf(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("va"),
        quantized_self_dot_vectorized(F.col(vec_col)).alias("qa"),
        bucket_udf(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        F.broadcast(q).join(corp, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            cosine_from_quantized(
                quantized_dot_vectorized(F.col("va"), F.col("vb")),
                F.col("qa"), F.col("qb"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def pq_codebooks(
    df: DataFrame, num_codes: int = 8, num_sub: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> tuple[list[list[tuple[int, list[float]]]], int]:
    """Product-quantization codebooks: split the embedding space into
    ``num_sub`` contiguous subspaces; each subspace's codebook is the
    corresponding SLICE of the same ``num_codes`` deterministic seed
    vectors `ivf_centroids` picks (md5-sampled corpus vectors). Returns
    (one codebook per subspace, subvector width). At production scale the
    seeds would be Lloyd-refined per subspace offline; encoding below is
    identical either way."""
    seeds = ivf_centroids(df, num_codes, vec_col, id_col)
    dim = len(seeds[0][1]) if seeds else 0
    sub = dim // num_sub
    books = [
        [(code, vec[m * sub:(m + 1) * sub]) for code, vec in seeds]
        for m in range(num_sub)
    ]
    return books, sub


def pq_encode(
    df: DataFrame, num_codes: int = 8, num_sub: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """PQ encoding (the ANN-at-scale compression step: a dim-float vector
    becomes num_sub small codes): per subspace, nearest sub-centroid by
    exact integer quantized distance (same argmin construction as
    `ivf_assign_expr`). Output: id, code_m per subspace, and the total
    quantized reconstruction distance (exact int64 — a rank key).

    Scale shape: the codebooks are driver-side literals (num_codes *
    num_sub subvectors), so encoding is a single shuffle-free map-side
    projection over the corpus — 100 TB costs one scan, and the output is
    ~dim/num_sub x smaller than the input."""
    books, sub = pq_codebooks(df, num_codes, num_sub, vec_col, id_col)
    cols: list[Column] = [F.col(id_col)]
    total: Column | None = None
    for m, book in enumerate(books):
        sv = F.slice(F.col(vec_col), m * sub + 1, sub)
        best = ivf_assign_expr(sv, book)
        cols.append(best["cell"].cast("int").alias(f"code_{m}"))
        d = best["dist"]
        total = d if total is None else total + d
    cols.append(total.cast("long").alias("qdist"))
    return df.select(*cols)


def pq_adc_topk(
    df: DataFrame, queries: DataFrame, k: int = 3,
    num_codes: int = 8, num_sub: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """PQ search via asymmetric distance computation (the classic ADC
    scan): each query precomputes a (num_sub x num_codes) lookup table of
    exact integer quantized distances query-subvector <-> sub-centroid;
    a corpus vector's approximate distance is then num_sub table lookups
    on its codes — no float math per candidate.

    Scale shape: the lookup tables are driver-side literals (queries are
    few by contract, as in `topk_bruteforce`), so scoring every corpus
    code row against every query is ONE map-side projection + explode;
    the only shuffle is the per-query top-k rank (WindowGroupLimit prunes
    per partition first). The corpus embeddings themselves are never
    re-read — ADC runs entirely on the ~dim/num_sub x smaller code table.
    """
    books, sub = pq_codebooks(df, num_codes, num_sub, vec_col, id_col)
    codes = pq_encode(df, num_codes, num_sub, vec_col, id_col)

    def qdist(qs: np.ndarray, cs: list[float]) -> int:
        b = np.asarray(cs, dtype=np.float64)
        t_qq = int(np.floor(qs * qs * QSCALE).sum())
        t_qc = int(np.floor(qs * b * QSCALE).sum())
        t_cc = int(np.floor(b * b * QSCALE).sum())
        return t_qq - 2 * t_qc + t_cc

    structs = []
    query_rows = queries.select(id_col, vec_col).collect()
    if not query_rows:
        # F.array() of zero structs has no element type and fails analysis;
        # an empty query set is a legal (if trivial) input — return the
        # empty result with the contract schema.
        return df.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, adist long"
        )
    for r in query_rows:
        qid, qv = int(r[0]), np.asarray(list(r[1]), dtype=np.float64)
        total = None
        for m, book in enumerate(books):
            qs = qv[m * sub:(m + 1) * sub]
            tbl = [qdist(qs, cvec) for _code, cvec in book]
            term = F.element_at(F.lit(tbl), F.col(f"code_{m}") + 1)
            total = term if total is None else total + term
        structs.append(
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                total.cast("long").alias("adist"),
            )
        )
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"),
                     F.explode(F.array(*structs)).alias("s"))
        .select("neighbor_id", "s.query_id", "s.adist")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adist")
    )


def ivf_cells_expr(
    vec: Column, centroids: list[tuple[int, list[float]]], nprobe: int = 1
) -> Column:
    """The `nprobe` nearest cells as an array<int> (recall knob: probing
    more cells trades read volume for recall). Same candidate structs as
    `ivf_assign_expr`, sorted by (dist, cell) and sliced — still one
    shuffle-free map-side expression."""
    def qconst(v: list[float]) -> int:
        a = np.asarray(v, dtype=np.float64)
        return int(np.floor(a * a * QSCALE).sum())

    qx = quantized_dot(vec, vec)
    cands = F.array(*[
        F.struct(
            (qx - 2 * quantized_dot(vec, F.lit(cvec)) + F.lit(qconst(cvec)))
            .alias("dist"),
            F.lit(cell).alias("cell"),
        )
        for cell, cvec in centroids
    ])
    return F.transform(
        F.slice(F.array_sort(cands), 1, nprobe), lambda s: s["cell"]
    )


def save_ivf_index(
    df: DataFrame,
    path: str,
    num_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index: the corpus written under ``path/index``
    PARTITIONED BY its coarse-quantizer cell (plus the precomputed
    quantized self-dot), centroids under ``path/centroids``. Probing then
    reads ONLY the probed cells' directories — Hive-style partition
    pruning means a 1-cell probe of a 4096-cell index touches 1/4096 of
    the files, decided at planning time from the file index, no data
    read. One scan to build; assignment is the usual map-side literal-
    matrix expression (zero shuffles before the partitioned write)."""
    cents = ivf_centroids(df, num_cells, vec_col, id_col)
    (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            quantized_dot(F.col(vec_col), F.col(vec_col)).alias("qnorm"),
            ivf_cell_expr(F.col(vec_col), cents).alias("cell"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(c, v) for c, v in cents], "cell: int, centroid: array<double>"
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return cents


def load_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    )
    return [(int(r["cell"]), list(r["centroid"])) for r in rows]


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a `save_ivf_index` index: assign each query its `nprobe`
    nearest cells, read ONLY those partitions (the cell IN (...) filter
    lands in PartitionFilters — directory-level pruning, verified by
    test_ivf_index), exact-rerank inside with the precomputed corpus
    norms, per-query top-k via the WindowGroupLimit-pruned rank window.
    Each corpus vector lives in exactly one cell, so multi-probe never
    duplicates a (query, neighbor) pair."""
    cents = load_ivf_centroids(spark, path)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("va"),
        quantized_dot(F.col(vec_col), F.col(vec_col)).alias("qa"),
        ivf_cells_expr(F.col(vec_col), cents, nprobe).alias("cells"),
    ).select("query_id", "va", "qa", F.explode("cells").alias("cell"))
    # the probed-cell set is bounded by |queries| x nprobe <= num_cells —
    # a driver-side literal list is what unlocks planning-time pruning
    probe_cells = sorted(
        {r["cell"] for r in q.select("cell").distinct().collect()}
    )
    idx = spark.read.parquet(f"{path}/index").where(
        F.col("cell").isin(probe_cells)
    )
    scored = (
        F.broadcast(q)
        .join(
            idx.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("vb"),
                F.col("qnorm").alias("qb"),
                "cell",
            ),
            "cell",
        )
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
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )
