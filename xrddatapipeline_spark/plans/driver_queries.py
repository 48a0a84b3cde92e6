"""Oracle-checked query registry: SURVEY §2 operator classes on the driver tables.

Each entry exercises one operator family from the reference (citation in its
docstring) as an idiomatic Spark DataFrame plan, paired with an ANSI-SQL
oracle DuckDB can run on the same parquet tables. Column names are aliased
identically on both sides (the driver's compare hashes values under sorted
column names).

Numeric-parity policy: outputs favor order-independent exact aggregates
(count / min / max / sums of integral doubles / exact medians+percentiles,
which interpolate identically in Spark, DuckDB, and numpy). Open-ended
double sums (TPC-H revenue) are kept where the operator demands them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xrddatapipeline_spark.operators.integrate import integrate_binned_mean
from xrddatapipeline_spark.operators.ring_stats import group_median_mad


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Some testdata vintages write ts as Parquet TIMESTAMP(NANOS), which
        # Spark 4 rejects by default; this conf surfaces it as a bigint of
        # nanos instead (newer vintages use TIMESTAMP(MICROS) and read as
        # TIMESTAMP_NTZ — _ts_us() normalizes both to epoch microseconds).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    # The driver's test tables are SINGLE-file, SINGLE-row-group parquet:
    # such a scan cannot split, so every stage up to the first shuffle
    # runs as one task on one core however wide the session is. Fan the
    # input out (one small round-robin shuffle) when the work it feeds
    # clearly pays for it: text/embedding tables always (md5 shingling /
    # vector math is orders of magnitude more compute per byte than a
    # relational scan — measured 4-5x end-to-end), relational tables only
    # once they are big enough that single-core scanning dominates. At
    # production scale inputs arrive as many files / many row groups and
    # neither branch triggers.
    compute_heavy = name in ("documents", "embeddings")
    try:
        big = os.path.getsize(path) > (32 << 20)
    except OSError:
        big = False
    if compute_heavy or big:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _ts_us(df: DataFrame) -> Column:
    """events.ts as integer microseconds-since-epoch, robust to vintage.

    Older driver testdata wrote ts as Parquet TIMESTAMP(NANOS), which the
    ``nanosAsLong`` conf surfaces as a bigint of nanoseconds; newer data is
    TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ. Normalize both to
    the integer microseconds DuckDB's ``epoch_us(ts)`` produces (session
    timezone is pinned UTC, so the NTZ->TZ cast is the identity mapping).
    """
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


@dataclass
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QueryDef] = {}


def _register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(name, fn, oracle, doc, tags)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship + general relational spine
# ---------------------------------------------------------------------------

@_register(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           avg(l_quantity) AS avg_qty,
           avg(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship scan->filter->hash-agg (multi-aggregate); general SQL spine.",
    tags=("agg", "flagship"),
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "tpch_q5ish_regional_volume",
    """
    SELECT n_name,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
    doc="Multi-join star query. Only the genuinely bounded dims "
    "(nation=25 rows, region=5 rows) carry explicit broadcast hints; "
    "customer and supplier GROW with the fact data (TPC-H: SF*150k and "
    "SF*10k rows — tens of GB at the 100 TB design point), so a forced "
    "broadcast would OOM the build side at scale. AQE sizes them from "
    "runtime stats instead: at sf0.1 it still chooses broadcast (plan "
    "checked round 8), degrading gracefully to shuffle join at scale.",
    tags=("join", "agg"),
)
def tpch_q5ish_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "s11_json_props_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured ingest: JSON sidecar parse (SURVEY §2.1 S3/S11 analog).",
    tags=("source",),
)
def s11_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# A1 — azimuthal integration (binned mean with bin-0 routing)
# ---------------------------------------------------------------------------

@_register(
    "a1_integrate_binned_mean",
    """
    SELECT bin,
           sum(l_quantity) AS sum_val,
           count(*) AS n_px,
           sum(l_quantity) / greatest(count(*), 1) AS intensity
    FROM (
        SELECT CASE WHEN l_discount > 0.06 THEN 0
                    ELSE CAST(floor(l_extendedprice / 2000) AS INT) + 1 END AS bin,
               l_quantity
        FROM lineitem
    )
    GROUP BY bin
    HAVING bin > 0
    """,
    doc="pipeline.py:55-75 semantics: masked rows routed to bin 0 and dropped, "
    "count clamped >=1 (SURVEY §2.6 A1).",
    tags=("agg", "xrd"),
)
def a1_integrate_binned_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return integrate_binned_mean(
        li,
        bin_col=(F.floor(F.col("l_extendedprice") / 2000) + 1).cast("int"),
        value_col=F.col("l_quantity"),
        mask_col=F.col("l_discount") > 0.06,
    )


# ---------------------------------------------------------------------------
# A2/J6/J7 — ring median/MAD sigma-clip (the fmask.c kernel, hash-agg shaped)
# ---------------------------------------------------------------------------

@_register(
    "a2_ring_median_mad",
    """
    WITH ring AS (
        SELECT CAST(l_partkey % 40 AS INT) AS ring, l_extendedprice AS v
        FROM lineitem
    ),
    med AS (
        SELECT ring, median(v) AS med, count(*) AS n_px
        FROM ring GROUP BY ring HAVING count(*) >= 10
    ),
    mad AS (
        SELECT r.ring, median(abs(r.v - m.med)) AS mad
        FROM ring r JOIN med m USING (ring)
        GROUP BY r.ring
    )
    SELECT m.ring, m.n_px, m.med, d.mad,
           (SELECT count(*) FROM ring r
            WHERE r.ring = m.ring AND abs(r.v - m.med) > d.mad * 4.4478) AS n_outliers
    FROM med m JOIN mad d ON m.ring = d.ring
    """,
    doc="fmask.c:79-293 per-ring exact median + MAD*1.4826 sigma-clip "
    "(esdMul=3 => threshold 3*1.4826=4.4478); rings <10 px skipped "
    "(SURVEY §2.6 A2, §2.5 J6/J7). One scan + one shuffle: bin-once /"
    "select-per-ring, the fmask v2 rewrite in Spark form.",
    tags=("agg", "xrd"),
)
def a2_ring_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 40).cast("int").alias("ring"),
        F.col("l_extendedprice").alias("v"),
    )
    stats = group_median_mad(li, ["ring"], "v", min_count=10, esd_mul=3.0)
    return stats.select("ring", "n_px", "med", "mad", "n_outliers")


# ---------------------------------------------------------------------------
# A17/A5 — per-spot-label stats through the real operator + area filter
# ---------------------------------------------------------------------------

@_register(
    "a17_spot_stats",
    """
    WITH lpx AS (
        SELECT CAST(l_orderkey % 3 AS INT) AS image_id,
               CAST(l_partkey % 8 AS INT) AS label,
               l_quantity / 10.0e0 AS q,
               CAST(l_partkey % 40 AS INT) AS qbin,
               l_partkey % 1000 + l_quantity AS intensity
        FROM lineitem WHERE l_orderkey % 7 < 3
    )
    SELECT image_id,
           label AS spot_stat_label,
           count(*) AS area,
           median(q) AS medianQ,
           CAST(floor(median(qbin)) AS INT) AS Qbin,
           sum(intensity) AS intensity_sum,
           max(intensity) AS intensity_max,
           avg(intensity) AS intensity_mean,
           max(CASE WHEN label % 3 = 2 THEN 1 ELSE 0 END) AS on_arc
    FROM lpx
    GROUP BY image_id, label
    """,
    doc="A17 spot-stats table through the REAL spot_stats operator "
    "(image_pipeline.py:397; reference spottiness.py:30-46): per-label "
    "area / exact medianQ / truncated median Qbin / sum-max-mean "
    "intensity / on_arc flag, over synthetic labeled pixels derived from "
    "lineitem (the a13_gradient_swap trick). Subsumes the retired "
    "a5_regionprops_label_stats anchor (a vanilla groupBy that exercised "
    "no operator code; A5 regionprops aggregates — area/sum/max/mean per "
    "label — are asserted here through spot_stats, plus a6_area_filter). "
    "Parity notes: intensity is an integral-valued double so sums are "
    "order-independent and exact; q uses a 10.0e0 double literal (DuckDB "
    "decimal-literal trap, see f4/bc75994); Qbin floors the median before "
    "CAST because Spark's double->int cast truncates while DuckDB's "
    "rounds. Validated at sf0.001/0.01/0.1.",
    tags=("agg", "xrd"),
)
def a17_spot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import spot_stats

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 7 < 3)
    lpx = li.select(
        (F.col("l_orderkey") % 3).cast("int").alias("image_id"),
        (F.col("l_partkey") % 8).cast("int").alias("label"),
        (F.col("l_quantity") / 10.0).alias("q"),
        (F.col("l_partkey") % 40).cast("int").alias("qbin"),
        (F.col("l_partkey") % 1000 + F.col("l_quantity")).alias("intensity"),
    )
    label_table = (
        lpx.select("image_id", "label")
        .distinct()
        .withColumn(
            "classifier",
            F.when(F.col("label") % 3 == 2, F.lit(2)).otherwise(F.lit(1)),
        )
    )
    # lpx carries intensity/qbin (the classify_clusters fast path), so the
    # dense-pixel probe branch is skipped; px is passed for signature only.
    return spot_stats(lpx, label_table, px=lpx)


@_register(
    "a6_area_filter",
    """
    WITH numbered AS (
        SELECT CAST(l_orderkey % 32 AS INT) AS label,
               row_number() OVER (
                   PARTITION BY l_orderkey % 32
                   ORDER BY l_orderkey, l_linenumber
               ) AS rn
        FROM lineitem
    ),
    lpx AS (
        SELECT 'img-' || CAST(label % 3 AS VARCHAR) AS image_id, label
        FROM numbered WHERE rn <= 85 + label
    )
    SELECT image_id, label, count(*) AS area
    FROM lpx GROUP BY image_id, label
    HAVING count(*) > 100
    """,
    doc="Drives plans/image_pipeline.py::label_table_from + the "
        "production MIN_ARC_AREA=100 filter — the A6/M5 min-area drop "
        "(classification.py:760-765: props_table rows with area < "
        "min_arc_area are dropped before classification; strict '>' in "
        "the classifier gate). The fixture manufactures EXACT group "
        "sizes with a per-bucket row_number: 32 labels with areas "
        "85+label = 85..116, so the boundary label (area exactly 100) "
        "is pinned on the dropped side of the strict comparison — a "
        ">= drift breaks the hash, as does a threshold-constant drift "
        "(the oracle hard-codes 100). ROUND 13: converted IN PLACE "
        "from a vanilla groupBy-HAVING re-spelling (the a9/a17 "
        "pattern); the r11 row covered the old body. Scale: the "
        "row_number is per-bucket (32-way partitioned window, fixture "
        "construction only); label_table_from itself is one keyed "
        "exchange.",
    tags=("agg", "xrd"),
)
def a6_area_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import (
        MIN_ARC_AREA, label_table_from,
    )

    li = _t(spark, sf_dir, "lineitem")
    numbered = li.select(
        (F.col("l_orderkey") % 32).cast("int").alias("label"),
        F.row_number()
        .over(
            Window.partitionBy(F.col("l_orderkey") % 32).orderBy(
                "l_orderkey", "l_linenumber"
            )
        )
        .alias("rn"),
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber") * 13) % 5760).alias(
            "t16"
        ),
        (F.lit(2.0) + (F.col("l_suppkey") % 32) / F.lit(64.0)).alias("q"),
    )
    lpx = numbered.where(F.col("rn") <= 85 + F.col("label")).select(
        F.concat(F.lit("img-"), (F.col("label") % 3).cast("string")).alias(
            "image_id"
        ),
        "label",
        (F.col("t16") / 16.0).alias("azim"),
        (((F.col("t16") + 2880) % 5760) / 16.0).alias("azim_flip"),
        "q",
    )
    return label_table_from(lpx).where(
        F.col("area") > MIN_ARC_AREA
    ).select("image_id", "label", "area")


# ---------------------------------------------------------------------------
# A7 — circular azimuth extent via flipped-axis heuristic
# ---------------------------------------------------------------------------

@_register(
    "a7_azim_extent_wrap",
    """
    WITH base AS (
        SELECT 'img-' || CAST(user_id % 2 AS VARCHAR) AS image_id,
               CAST(event_id % 12 AS INT) AS label,
               (event_id * 13 + user_id * 7) % 192 AS u,
               (event_id * 11) % 512 AS v
        FROM events
    ),
    lpx AS (
        SELECT image_id, label,
               CASE WHEN label % 3 = 0 THEN
                        CASE WHEN u < 96 THEN u ELSE 5664 + (u - 96) END
                    WHEN label % 3 = 1 THEN 2720 + v
                    ELSE 160 + v
               END / 16.0 AS azim
        FROM base
    ),
    flipped AS (
        SELECT image_id, label, azim,
               (azim + 180.0) % 360.0 AS azim_flip
        FROM lpx
    )
    SELECT image_id, label, count(*) AS area,
           least(max(azim) - min(azim),
                 max(azim_flip) - min(azim_flip)) AS diff_azim
    FROM flipped GROUP BY image_id, label
    """,
    doc="Drives plans/image_pipeline.py::label_table_from's circular "
        "azimuth extent — the flipped-axis least() the hot plan executes "
        "for wrapped arcs (classification.py:403-412; SURVEY §2.6 A7) — "
        "with the azim_flip column built by the SAME F.pmod(azim+180, "
        "360) expression labeled_pixels_frame uses. Three label "
        "populations pin all three outcomes: labels%3==0 straddle zero "
        "(raw extent ~359.9, flip reads the true ~12-degree hull -> "
        "flip wins), %3==1 straddle 180 (the FLIP wraps, raw wins "
        "strictly), %3==2 sit mid-range (neither wraps, extents tie). "
        "Azimuths live on an exact 1/16-degree grid so the pmod/fmod "
        "results are bit-identical across engines (the round-5 a7 ulp "
        "lesson: arbitrary doubles through two modulo spellings drift). "
        "ROUND 13: converted IN PLACE from a re-spelled least() formula "
        "over raw event values (the a9/a17 pattern); the r11 row covered "
        "the old body. Scale: one keyed exchange, min/max only.",
    tags=("agg", "xrd"),
)
def a7_azim_extent_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import label_table_from

    ev = _t(spark, sf_dir, "events")
    u = (F.col("event_id") * 13 + F.col("user_id") * 7) % 192
    v = (F.col("event_id") * 11) % 512
    label = (F.col("event_id") % 12).cast("int")
    t16 = (
        F.when(
            label % 3 == 0,
            F.when(u < 96, u).otherwise(5664 + (u - 96)),
        )
        .when(label % 3 == 1, 2720 + v)
        .otherwise(160 + v)
    )
    lpx = ev.select(
        F.concat(
            F.lit("img-"), (F.col("user_id") % 2).cast("string")
        ).alias("image_id"),
        label.alias("label"),
        (t16 / 16.0).alias("azim"),
        (F.lit(2.0) + (F.col("event_id") % 16) / F.lit(64.0)).alias("q"),
    ).withColumn(
        # the exact expression labeled_pixels_frame adds (A7 flip axis)
        "azim_flip", F.pmod(F.col("azim") + 180.0, F.lit(360.0))
    )
    return label_table_from(lpx).select(
        "image_id", "label", "area", "diff_azim"
    )


# ---------------------------------------------------------------------------
# A8/A12 — exact percentile spread and global percentiles
# ---------------------------------------------------------------------------

@_register(
    "a8_percentile_spread",
    """
    WITH lpx AS (
        SELECT 'img-' || CAST(l_orderkey % 3 AS VARCHAR) AS image_id,
               CAST(l_partkey % 10 AS INT) AS label,
               CASE WHEN l_partkey % 2 = 0
                    THEN 2.0 + (l_suppkey % 8) / 512.0
                    ELSE 1.0 + l_quantity / 32.0 + (l_suppkey % 64) / 128.0
               END AS q,
               ((l_partkey * 7 + l_suppkey * 3) % 5760) / 16.0 AS azim,
               (((l_partkey * 7 + l_suppkey * 3) % 5760 + 2880) % 5760)
                   / 16.0 AS azim_flip
        FROM lineitem WHERE l_orderkey % 7 < 5
    ),
    ext AS (
        SELECT image_id, label, count(*) AS area,
               least(max(azim) - min(azim),
                     max(azim_flip) - min(azim_flip)) AS diff_azim,
               quantile_cont(q, 0.9) - quantile_cont(q, 0.1) AS diff_q
        FROM lpx GROUP BY image_id, label
    )
    SELECT image_id, label, area, diff_q,
           CASE WHEN area > 100 AND diff_q < 0.1 AND diff_azim > 3.5
                     AND diff_azim > 100.0 * diff_q
                THEN 2 ELSE 1 END AS classifier
    FROM ext
    """,
    doc="Drives plans/image_pipeline.py::label_table_from's Q extent — "
        "exact linear-interpolation p90-p10 (classification.py:415-418, "
        "668-672; SURVEY §2.6 A8) — at LARGE ragged group sizes: 30 "
        "(image, label) groups of ~2000 rows each (a 5/7 orderkey "
        "filter keeps the counts off round numbers, so both percentile "
        "positions interpolate between ranks), vs a9's 8 small labels. "
        "EVEN labels carry a tight exact-binary q spread (7/512 << "
        "Q_MAX -> classifier 2 with the full-circle azimuth extent), "
        "ODD labels a wide l_quantity-driven one (~1.9 >> Q_MAX -> "
        "classifier 1), so the Q_MAX branch is decided by diff_q alone. "
        "The oracle hard-codes the production thresholds; Spark "
        "percentile() vs DuckDB quantile_cont() bit-parity on exact-"
        "binary inputs is the long-established a8/a9 result. ROUND 13: "
        "converted IN PLACE from a re-spelled percentile formula over "
        "l_quantity (the a9/a17 pattern); the r11 row covered the old "
        "body. Scale: one keyed exchange, exact order statistics per "
        "label-bounded group.",
    tags=("agg", "xrd"),
)
def a8_percentile_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import label_table_from

    li = _t(spark, sf_dir, "lineitem")
    t16 = (F.col("l_partkey") * 7 + F.col("l_suppkey") * 3) % 5760
    lpx = li.where(F.col("l_orderkey") % 7 < 5).select(
        F.concat(
            F.lit("img-"), (F.col("l_orderkey") % 3).cast("string")
        ).alias("image_id"),
        (F.col("l_partkey") % 10).cast("int").alias("label"),
        F.when(
            F.col("l_partkey") % 2 == 0,
            F.lit(2.0) + (F.col("l_suppkey") % 8) / F.lit(512.0),
        )
        .otherwise(
            F.lit(1.0)
            + F.col("l_quantity") / F.lit(32.0)
            + (F.col("l_suppkey") % 64) / F.lit(128.0)
        )
        .alias("q"),
        (t16 / 16.0).alias("azim"),
        (((t16 + 2880) % 5760) / 16.0).alias("azim_flip"),
    )
    return label_table_from(lpx).select(
        "image_id", "label", "area", "diff_q", "classifier"
    )


@_register(
    "a12_global_percentiles",
    """
    SELECT percentile_cont(0.001) WITHIN GROUP (ORDER BY l_extendedprice) AS p001,
           percentile_cont(0.10) WITHIN GROUP (ORDER BY l_extendedprice) AS p10,
           percentile_cont(0.999) WITHIN GROUP (ORDER BY l_extendedprice) AS p999,
           count(*) AS n
    FROM lineitem
    """,
    doc="Whole-image global percentiles (classification.py:502-503, "
    "spottiness.py:66; SURVEY §2.6 A12). Exact, not approx, for parity.",
    tags=("agg", "xrd"),
)
def a12_global_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.expr("percentile(l_extendedprice, 0.001)").alias("p001"),
        F.expr("percentile(l_extendedprice, 0.10)").alias("p10"),
        F.expr("percentile(l_extendedprice, 0.999)").alias("p999"),
        F.count("*").alias("n"),
    )


@_register(
    "grad_percentile_candidates",
    """
    WITH g AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    h AS (
        SELECT event_type, value, rn, n,
               CAST(floor((n - 1) * CAST(0.001 AS DOUBLE)) AS BIGINT) AS lo1,
               (n - 1) * CAST(0.001 AS DOUBLE)
                   - floor((n - 1) * CAST(0.001 AS DOUBLE)) AS frac1,
               CAST(floor((n - 1) * CAST(0.10 AS DOUBLE)) AS BIGINT) AS lo2,
               (n - 1) * CAST(0.10 AS DOUBLE)
                   - floor((n - 1) * CAST(0.10 AS DOUBLE)) AS frac2
        FROM g
    ),
    i AS (
        SELECT *, LEAST(lo1 + 1, n - 1) AS hi1, LEAST(lo2 + 1, n - 1) AS hi2
        FROM h
    )
    SELECT event_type,
           max(n) AS n_core,
           max(CASE WHEN rn = lo1 + 1 THEN value END)
             + max(frac1) * (max(CASE WHEN rn = hi1 + 1 THEN value END)
                             - max(CASE WHEN rn = lo1 + 1 THEN value END)) AS p_lo,
           max(CASE WHEN rn = lo2 + 1 THEN value END)
             + max(frac2) * (max(CASE WHEN rn = hi2 + 1 THEN value END)
                             - max(CASE WHEN rn = lo2 + 1 THEN value END)) AS p10
    FROM i
    GROUP BY event_type
    """,
    doc="The gradient stage's exact-percentile-from-banded-candidates "
    "mechanism (gradient_stage.py:267 keep_k bottom-k per band, :362 "
    "merge; reference classification.py:502-503 global percentiles), "
    "reproduced relationally: Spark prunes each (group, band) to its "
    "bottom-k BEFORE the global rank, the DuckDB oracle ranks the FULL "
    "data — a hash match proves the per-band candidate pruning is "
    "lossless for the p0.1/p10 thresholds, with np.percentile's exact "
    "linear interpolation (v_lo + frac*(v_hi - v_lo)) on both sides.",
    tags=("agg", "xrd", "percentile"),
)
def grad_percentile_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # group sizes via groupBy + broadcast-back (NOT a window count: at scale
    # a count(*) OVER (PARTITION BY group) shuffles the full table into one
    # partition per group — the agg+broadcast shape is skew-immune)
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    ev = ev.join(F.broadcast(counts), "event_type")
    # per-band bottom-k, k = floor((n-1)*q_max) + 2: each band keeps enough
    # that the union provably contains the global bottom hi+1 values
    # (mirrors gradient_stage keep_r2/keep_a2 = pct/100*h*w + 4)
    ev = ev.withColumn("band", F.pmod(F.col("event_id"), F.lit(8)))
    k = F.floor((F.col("n") - 1) * F.lit(0.10)) + 2
    w_band = Window.partitionBy("event_type", "band").orderBy("value")
    cand = (
        ev.withColumn("rb", F.row_number().over(w_band))
        .where(F.col("rb") <= k)
        .drop("rb", "band", "event_id")
    )
    # global rank over the (small) candidate union only — the full table is
    # never globally sorted; ranks <= k agree with the full-data ranks
    w_glob = Window.partitionBy("event_type").orderBy("value")
    cand = cand.withColumn("rn", F.row_number().over(w_glob))

    def pick(q: float) -> Column:
        h = (F.col("n") - 1) * F.lit(q)
        lo = F.floor(h)
        hi = F.least(lo + 1, F.col("n") - 1)
        frac = h - lo
        v_lo = F.max(F.when(F.col("rn") == lo + 1, F.col("value")))
        v_hi = F.max(F.when(F.col("rn") == hi + 1, F.col("value")))
        return v_lo + F.max(frac) * (v_hi - v_lo)

    return cand.groupBy("event_type").agg(
        F.max("n").alias("n_core"),
        pick(0.001).alias("p_lo"),
        pick(0.10).alias("p10"),
    )


# ---------------------------------------------------------------------------
# A9 — spot/arc threshold classifier over joined aggregates
# ---------------------------------------------------------------------------

@_register(
    "a9_shape_classifier",
    """
    WITH lpx AS (
        SELECT 'img-' || CAST(l_orderkey % 3 AS VARCHAR) AS image_id,
               CAST(l_partkey % 8 AS INT) AS label,
               ((l_partkey * 37 + l_suppkey * 11) % 3000) / 10.0 AS azim,
               (((l_partkey * 37 + l_suppkey * 11) % 3000 + 1800) % 3600)
                   / 10.0 AS azim_flip,
               CASE WHEN l_partkey % 2 = 0
                    THEN 2.0 + (l_suppkey % 8) / 400.0
                    ELSE 2.0 + (l_suppkey % 8) * 0.05 END AS q
        FROM lineitem
    ),
    ext AS (
        SELECT image_id, label, count(*) AS area,
               least(max(azim) - min(azim),
                     max(azim_flip) - min(azim_flip)) AS diff_azim,
               quantile_cont(q, 0.9) - quantile_cont(q, 0.1) AS diff_q
        FROM lpx GROUP BY image_id, label
    )
    SELECT image_id, label, area, diff_azim, diff_q,
           CASE WHEN area > 100 AND diff_q < 0.1 AND diff_azim > 3.5
                     AND diff_azim > 100.0 * diff_q
                THEN 2 ELSE 1 END AS classifier
    FROM ext
    """,
    doc="Drives plans/image_pipeline.py::label_table_from — the REAL "
        "A5-A9 shape-classifier operator (per-label area, wraparound "
        "circular azimuth extent via the flipped-axis least(), Q extent "
        "as exact percentile p90-p10, and the arc-vs-spot decision with "
        "the production thresholds MIN_ARC_AREA=100 / Q_MAX=0.1 / "
        "AZIM_MIN=3.5 / AZIM_Q_SHAPE_MIN=100; classification.py:373-444) "
        "— on a labeled-pixels frame constructed deterministically from "
        "lineitem: 3 images x 8 labels, EVEN labels get a tight q spread "
        "(p90-p10 ~ 0.014 << Q_MAX -> arcs, classifier 2), ODD labels a "
        "wide one (~0.3 >> Q_MAX -> spots, classifier 1), so BOTH "
        "decision branches are populated well away from every threshold "
        "boundary. azim/azim_flip are built from integer tenths in both "
        "engines ((t+1800)%3600/10) — no float pmod in the oracle, the "
        "a7 ulp lesson. The oracle hard-codes the production thresholds, "
        "so a silent constant drift in image_pipeline breaks the hash. "
        "ROUND 12: converted IN PLACE from a re-spelled threshold "
        "formula to the real operator (the a17 pattern); the r11 row "
        "covered the formula predecessor — in-repo parity covers this "
        "form until its next driver row in r13. Scale: one keyed "
        "exchange over label-bounded groups, exact order statistics "
        "per group.",
    tags=("agg", "xrd"),
)
def a9_shape_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import label_table_from

    li = _t(spark, sf_dir, "lineitem")
    t = (F.col("l_partkey") * 37 + F.col("l_suppkey") * 11) % 3000
    lpx = li.select(
        F.concat(
            F.lit("img-"), (F.col("l_orderkey") % 3).cast("string")
        ).alias("image_id"),
        (F.col("l_partkey") % 8).cast("int").alias("label"),
        (t / 10.0).alias("azim"),
        (((t + 1800) % 3600) / 10.0).alias("azim_flip"),
        F.when(
            F.col("l_partkey") % 2 == 0,
            F.lit(2.0) + (F.col("l_suppkey") % 8) / F.lit(400.0),
        )
        .otherwise(F.lit(2.0) + (F.col("l_suppkey") % 8) * F.lit(0.05))
        .alias("q"),
    )
    return label_table_from(lpx)


# ---------------------------------------------------------------------------
# A16/A23 — unique spots per Q-bin through the real read-back histogram
# ---------------------------------------------------------------------------

@_register(
    "a16_count_distinct",
    """
    WITH stats AS (
        SELECT DISTINCT CAST(l_orderkey % 4 AS INT) AS imgnum,
               CAST(l_partkey % 50 AS INT) AS spot_stat_label
        FROM lineitem
    ),
    shaped AS (
        SELECT 'img-' || CAST(imgnum AS VARCHAR) AS image_id,
               spot_stat_label,
               CAST((spot_stat_label * 7 + imgnum * 3) % 25 AS INT) AS Qbin
        FROM stats
    )
    SELECT image_id, Qbin, count(*) AS n_spots
    FROM shaped WHERE spot_stat_label <> 0
    GROUP BY image_id, Qbin
    """,
    doc="Drives plans/readback.py::spot_count_histogram — the REAL "
        "unique-spots-per-Q-bin operator (A16/A23, spottiness.py:24 + "
        "mainUI/stats.py:114-117): one row per (image, label) with the "
        "background label 0 dropped, counted per Q bin. The fixture "
        "manufactures a spot_stats-shaped frame (one row per label via "
        "a min-Qbin groupBy, matching the operator's one-row-per-spot "
        "input contract, Qbin derived from the group key so the "
        "histogram spreads across bins — label*7 mod 25 hits every bin) "
        "including label-0 rows in every image so the background drop "
        "does real work; counting distinct labels once each IS the "
        "distinct-count semantics. ROUND 13: converted IN "
        "PLACE from a vanilla count(DISTINCT) re-spelling (the a9/a17 "
        "pattern; generic count-distinct stays driver-covered by "
        "tpch_q16ish_supplier_cnt's two-level distinct aggregate, green "
        "r12). Scale: label-bounded input, two small keyed exchanges.",
    tags=("agg", "xrd", "readback"),
)
def a16_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.readback import spot_count_histogram

    li = _t(spark, sf_dir, "lineitem")
    stats = (
        li.select(
            (F.col("l_orderkey") % 4).cast("int").alias("imgnum"),
            (F.col("l_partkey") % 50).cast("int").alias("spot_stat_label"),
        )
        .distinct()
        .select(
            F.concat(F.lit("img-"), F.col("imgnum").cast("string")).alias(
                "image_id"
            ),
            "spot_stat_label",
            ((F.col("spot_stat_label") * 7 + F.col("imgnum") * 3) % 25)
            .cast("int")
            .alias("Qbin"),
        )
    )
    return spot_count_histogram(stats)


# ---------------------------------------------------------------------------
# W1/J4 — previous/first lookup via window (csim pairing)
# ---------------------------------------------------------------------------

@_register(
    "w1_lag_first_pairing",
    """
    SELECT event_id, user_id,
           value - coalesce(lag(value) OVER w, value) AS d_prev,
           value - first_value(value) OVER w AS d_first
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Image-n vs n-1 and vs first pairing as lag/first_value windows "
    "(pipeline.py:506-545; SURVEY §2.7 W1, §2.5 J4). First pairs with "
    "itself => delta 0, matching the reference's self-compare. "
    "Adjudication (r12 verdict #6, round 13): KEPT as the generic "
    "lag/first anchor — the production pairing (csim) is separately "
    "driver-anchored end-to-end by a20_cosine_consecutive, which "
    "executes cosine_similarity_series itself; w1 anchors the plain "
    "window semantics (coalesce-on-first, ordered lag) that other "
    "consumers (diff integrals, sessionization) also build on, so "
    "retiring it would leave those semantics covered only transitively.",
    tags=("window", "xrd"),
)
def w1_lag_first_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (
            F.col("value")
            - F.coalesce(F.lag("value").over(w), F.col("value"))
        ).alias("d_prev"),
        (F.col("value") - F.first("value").over(w)).alias("d_first"),
    )


# ---------------------------------------------------------------------------
# W3 — contour stride view (drives the real readback operator).
# w3_stride_downsample RETIRED round 13: its surface (row_number stride
# filter per series) is a strict subset of w3_contour_stride_view below,
# which drives readback.contour_matrix itself — kind filter, seq range,
# stride auto-doubling 1->16, array content + order — and holds a green
# r12 driver row. Same retirement pattern as a5/dedup_store_probe/
# customers_without_orders (rotation-history note below); the freed slot
# funds the round-13 composed spine anchor image_plan_spine.
# ---------------------------------------------------------------------------

@_register(
    "w3_contour_stride_view",
    """
    WITH src AS (
        SELECT 'ev-' || CAST(event_id % 240 AS VARCHAR) AS image_id,
               CAST(event_id % 240 AS INT) AS seq,
               CAST((event_id // 240) % 60 AS INT) AS tth_idx,
               value AS intensity
        FROM events
        WHERE event_id % 7 <> 0
    ),
    f AS (SELECT * FROM src WHERE seq BETWEEN 8 AND 230),
    imgs AS (SELECT DISTINCT image_id, seq FROM f),
    n AS (SELECT count(*) AS c FROM imgs),
    k AS (
        SELECT min(kk) AS k FROM (
            SELECT CAST(power(2, g) AS BIGINT) AS kk, c
            FROM generate_series(0, 30) AS t(g), n
        ) WHERE c // kk <= 24
    ),
    kept AS (
        SELECT image_id, seq FROM (
            SELECT image_id, seq,
                   row_number() OVER (ORDER BY seq) - 1 AS rn
            FROM imgs
        ), k WHERE rn % k.k = 0
    ),
    arr AS (
        SELECT f.image_id, f.seq,
               list(f.intensity ORDER BY f.tth_idx, f.intensity) AS ints
        FROM f JOIN kept USING (image_id, seq)
        GROUP BY f.image_id, f.seq
    )
    SELECT image_id, seq,
           CAST(generate_subscripts(ints, 1) - 1 AS INT) AS pos,
           unnest(ints) AS intensity
    FROM arr
    """,
    doc="Drives plans/readback.py::contour_matrix — the REAL W2/W3/W4 "
        "contour/waterfall view function (auto-doubling stride k until "
        "the kept-line count fits max_lines, contour.py:208-251; seq "
        "range slice; per-image ordered intensity array) — on an "
        "integrals-shaped frame derived deterministically from events "
        "(image_id 'ev-<event_id%240>', tth_idx (event_id//240)%60, a "
        "'base'/'om' kind split on event_id%7 so the kind filter is "
        "exercised). 223 images survive the [8,230] range, so the "
        "stride doubles 1->16 to fit max_lines=24 — the loop body runs, "
        "not just its exit. The returned array column is posexploded to "
        "(pos, intensity) scalar rows so the oracle asserts full array "
        "CONTENT AND ORDER (DuckDB generate_subscripts/unnest over "
        "list(... ORDER BY tth_idx, intensity)). Complements "
        "w3_stride_downsample, which anchors only the stride formula; "
        "this anchors the view function itself (round-11 verdict Next "
        "#4b). Scale: the distinct/count and kept-set window run over "
        "one row per image (bounded by the contour's line budget), "
        "never over pixels; the per-image array agg is one keyed "
        "shuffle.",
    tags=("window", "xrd", "readback"),
)
def w3_contour_stride_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.readback import contour_matrix

    ev = _t(spark, sf_dir, "events")
    src = ev.select(
        F.when(F.col("event_id") % 7 == 0, F.lit("base"))
        .otherwise(F.lit("om"))
        .alias("kind"),
        F.concat(
            F.lit("ev-"), (F.col("event_id") % 240).cast("string")
        ).alias("image_id"),
        (F.expr("event_id div 240") % 60).cast("int").alias("tth_idx"),
        F.col("value").alias("intensity"),
    )
    view = contour_matrix(
        src, kind="om", max_lines=24, seq_min=8, seq_max=230, step=1
    )
    return view.select(
        "image_id",
        "seq",
        F.posexplode("intensities").alias("pos", "intensity"),
    )


# ---------------------------------------------------------------------------
# W5 — circular gap-scan (azimuth wraparound extent)
# ---------------------------------------------------------------------------

@_register(
    "w5_circular_gap_scan",
    """
    WITH base AS (
        SELECT 'w-' || CAST(user_id % 2 AS VARCHAR) AS image_id,
               CAST(event_id % 9 AS INT) AS label,
               (event_id * 13 + user_id * 7) % 192 AS u,
               (event_id * 11) % 512 AS v
        FROM events
    ),
    lpx AS (
        SELECT image_id, label,
               CASE WHEN label % 3 = 0 THEN
                        CASE WHEN u < 96 THEN u ELSE 5664 + (u - 96) END
                    WHEN label % 3 = 1 THEN
                        CASE WHEN u < 64 THEN u
                             WHEN u < 128 THEN 2000 + (u - 64)
                             ELSE 5696 + (u - 128) END
                    ELSE 1600 + v
               END / 16.0 AS azim
        FROM base
    ),
    gaps AS (
        SELECT image_id, label, azim,
               azim - lag(azim) OVER (
                   PARTITION BY image_id, label ORDER BY azim
               ) AS gap
        FROM lpx
    ),
    agg AS (
        SELECT image_id, label,
               max(azim) - min(azim) AS extent_raw,
               arg_min(gap, azim) FILTER (WHERE gap > 10.0) AS first_gap
        FROM gaps GROUP BY image_id, label
    )
    SELECT image_id, label, extent_raw,
           CASE WHEN extent_raw > 359.0 AND first_gap IS NOT NULL
                THEN 360.0 - first_gap ELSE extent_raw END AS extent
    FROM agg
    """,
    doc="Drives plans/image_pipeline.py::wrapped_extent_gap_scan — the "
        "reference's EXACT wraparound recompute (classification.py:659-"
        "666, 766-775; SURVEY §2.7 W5): labels whose raw extent exceeds "
        "359 sort their azimuths and report 360 minus the FIRST "
        "consecutive gap > 10 (np.argwhere(diffs>10)[0]). Three label "
        "populations: %3==0 wrap with ONE big gap (the common arc-"
        "across-zero), %3==1 wrap with TWO >10-degree gaps — the case "
        "where first-gap and the hot plan's flipped-axis least() "
        "DISAGREE, pinning argwhere[0] semantics (a max-gap or last-gap "
        "drift breaks the hash) — and %3==2 mid-range (below the >359 "
        "trigger, raw extent passes through). Azimuths on the exact "
        "1/16-degree grid (the a7 ulp lesson). ROUND 13: converted IN "
        "PLACE from a re-spelled max-gap formula that was NOT the "
        "reference's semantics (it took the largest gap including the "
        "wrap gap; the reference takes the first >10 gap only for "
        "wrapped labels) — adjudication per the r12 verdict Next #6: "
        "repointed at the plan's own operator rather than retired, "
        "since the gap-scan is reference semantics the flip heuristic "
        "does not reproduce. Scale: one keyed window sort + one keyed "
        "agg, same exchange count as label_table_from.",
    tags=("window", "xrd"),
)
def w5_circular_gap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import (
        wrapped_extent_gap_scan,
    )

    ev = _t(spark, sf_dir, "events")
    u = (F.col("event_id") * 13 + F.col("user_id") * 7) % 192
    v = (F.col("event_id") * 11) % 512
    label = (F.col("event_id") % 9).cast("int")
    t16 = (
        F.when(
            label % 3 == 0,
            F.when(u < 96, u).otherwise(5664 + (u - 96)),
        )
        .when(
            label % 3 == 1,
            F.when(u < 64, u)
            .when(u < 128, 2000 + (u - 64))
            .otherwise(5696 + (u - 128)),
        )
        .otherwise(1600 + v)
    )
    lpx = ev.select(
        F.concat(F.lit("w-"), (F.col("user_id") % 2).cast("string")).alias(
            "image_id"
        ),
        label.alias("label"),
        (t16 / 16.0).alias("azim"),
    )
    return wrapped_extent_gap_scan(lpx)


# ---------------------------------------------------------------------------
# W6 — gap-based sessionization (training-pipeline event grouping)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 12 * 3600 * 1_000_000  # 12 h in microseconds


@_register(
    "w6_sessionize_events",
    f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ),
    flags AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
        SELECT user_id, event_id, ts_us,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM flags
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(event_id) AS first_event_id,
           min(ts_us) AS start_us,
           max(ts_us) - min(ts_us) AS span_us
    FROM sess GROUP BY user_id, session_seq
    """,
    doc="Gap-based sessionization (12 h inactivity splits a session): "
        "lag-window boundary flag + running sum = session id, then per-"
        "session aggregates. The batch form of the streaming session-window "
        "operator; one shuffle on user_id serves both windows and the agg. "
        "Timestamps compared in integer microseconds (_ts_us normalizes "
        "either testdata vintage to DuckDB's epoch_us semantics).",
    tags=("window", "corpus", "sessionize"),
)
def w6_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", _ts_us(ev).alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flags = e.withColumn(
        "is_new",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US, 1
        ).otherwise(0),
    )
    sess = flags.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.min("ts_us").alias("start_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
    )


# ---------------------------------------------------------------------------
# T6 — batch anchors for the streaming operators (windows / joins). The
# streaming layer (streaming/windows.py, joins.py) computes exactly these
# shapes incrementally; the batch forms give them a driver-visible oracle.
# ---------------------------------------------------------------------------

_WIN_US = 10 * 60 * 1_000_000  # 10-minute tumbling window
_SLIDE_US = 5 * 60 * 1_000_000  # 5-minute slide (15-minute sliding window)
_SLIDE_WIN_US = 15 * 60 * 1_000_000
_JOIN_BOUND_US = 30 * 60 * 1_000_000  # interval-join upper bound


@_register(
    "t6_tumbling_window_counts",
    f"""
    WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events)
    SELECT ts_us - ts_us % {_WIN_US} AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_value_q
    FROM e GROUP BY 1, 2
    """,
    doc="Batch anchor of streaming/windows.py::windowed_event_counts "
        "(watermarked tumbling windows, SURVEY §2.10 T6): the same "
        "window assignment in integer-microsecond arithmetic. value is "
        "quantized (x1e6 floor) so the sum is order-independent exact.",
    tags=("window", "streaming-anchor"),
)
def t6_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(_ts_us(ev).alias("ts_us"), "event_type", "value")
    return (
        e.groupBy(
            (F.col("ts_us") - F.pmod("ts_us", F.lit(_WIN_US))).alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias(
                "sum_value_q"
            ),
        )
    )


@_register(
    "t6_sliding_window_stats",
    f"""
    WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type FROM events),
    x AS (
        SELECT (ts_us - ts_us % {_SLIDE_US}) - g.k * {_SLIDE_US}
                   AS window_start,
               event_type, ts_us
        FROM e CROSS JOIN generate_series(0, 2) AS g(k)
    )
    SELECT window_start, event_type, count(*) AS n_events
    FROM x
    WHERE window_start >= 0 AND ts_us < window_start + {_SLIDE_WIN_US}
    GROUP BY 1, 2
    """,
    doc="Sliding-window (15 min window / 5 min slide) batch anchor: each "
        "event explodes to its 3 covering windows (the same assignment "
        "F.window(slideDuration=...) makes), then per-window counts.",
    tags=("window", "streaming-anchor"),
)
def t6_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(_ts_us(ev).alias("ts_us"), "event_type")
    x = e.select(
        "ts_us",
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"),
    ).withColumn(
        "window_start",
        (F.col("ts_us") - F.pmod("ts_us", F.lit(_SLIDE_US)))
        - F.col("k") * _SLIDE_US,
    )
    return (
        x.where(
            (F.col("window_start") >= 0)
            & (F.col("ts_us") < F.col("window_start") + _SLIDE_WIN_US)
        )
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


@_register(
    "t6_interval_join_counts",
    f"""
    WITH e AS (
        SELECT epoch_us(ts) AS ts_us, user_id, event_type, event_id
        FROM events
    ),
    pairs AS (
        SELECT c.user_id, c.event_id AS click_id
        FROM e c JOIN e p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts_us >= c.ts_us
         AND p.ts_us <= c.ts_us + {_JOIN_BOUND_US}
    )
    SELECT user_id,
           count(*) AS n_pairs,
           CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks_matched
    FROM pairs GROUP BY user_id
    """,
    doc="Batch anchor of streaming/joins.py::interval_join_streams "
        "(watermarked stream-stream interval join): clicks joined to "
        "purchases by the same user within 30 min after, per-user pair "
        "counts. One shuffle on user_id serves join and aggregate.",
    tags=("join", "streaming-anchor"),
)
def t6_interval_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        _ts_us(ev).alias("ts_us"), "user_id", "event_type", "event_id"
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("p_ts")
    )
    pairs = c.join(
        p,
        on=[
            c.user_id == p.user_id,
            p.p_ts >= c.c_ts,
            p.p_ts <= c.c_ts + _JOIN_BOUND_US,
        ],
    ).select(c.user_id, "click_id")
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("click_id").alias("n_clicks_matched"),
    )


# ---------------------------------------------------------------------------
# J5 — base vs masked difference via pivot self-alignment
# ---------------------------------------------------------------------------

@_register(
    "j5_diff_pivot",
    """
    WITH src AS (
        SELECT o_orderkey % 8000 AS k, max(o_totalprice) AS intensity
        FROM orders GROUP BY o_orderkey % 8000
    ),
    cells AS (
        SELECT 'o-' || CAST(k % 40 AS VARCHAR) AS image_id,
               CAST((k // 40) % 50 AS INT) AS tth_idx,
               1.0 + 0.2 * CAST((k // 40) % 50 AS INT) AS tth,
               CASE CAST(k // 2000 AS INT)
                    WHEN 0 THEN 'base' WHEN 1 THEN 'om'
                    WHEN 2 THEN 'spotsmasked' ELSE 'arcsmasked'
               END AS kind,
               intensity
        FROM src
    ),
    wide AS (
        SELECT image_id, tth_idx, tth,
               max(CASE WHEN kind = 'base' THEN intensity END) AS base,
               max(CASE WHEN kind = 'om' THEN intensity END) AS om,
               max(CASE WHEN kind = 'spotsmasked' THEN intensity END)
                   AS spotsmasked,
               max(CASE WHEN kind = 'arcsmasked' THEN intensity END)
                   AS arcsmasked
        FROM cells GROUP BY image_id, tth_idx, tth
    )
    SELECT image_id, tth_idx, tth, base, om,
           CASE WHEN base - spotsmasked >= 0
                THEN sqrt(base - spotsmasked)
                ELSE -sqrt(spotsmasked - base) END AS diff_spots,
           CASE WHEN base - arcsmasked >= 0
                THEN sqrt(base - arcsmasked)
                ELSE -sqrt(arcsmasked - base) END AS diff_arcs
    FROM wide
    """,
    doc="Drives plans/readback.py::diff_integrals — the REAL J5(+P18) "
        "base-minus-masked difference view (per-(image, tth) pivot of "
        "the 4 integral kinds, diff lines, signed-sqrt display "
        "transform; mainUI/integrals.py:280-329) — on an "
        "integrals-shaped frame derived deterministically from orders "
        "(k = o_orderkey % 8000 bijects onto 40 images x 50 tth bins x "
        "4 kinds after a max() pre-agg collapses key collisions, so the "
        "view's F.first pivot is deterministic, exactly like the real "
        "pipeline's one-row-per-(image,tth,kind) feed; at sf0.001 the "
        "keyspace is only partially covered, so NULL cells exercise the "
        "missing-kind path in both engines). sqrt_display=True "
        "exercises P18's signed sqrt on both sign branches "
        "(IEEE-exact: sqrt is correctly rounded and -(a-b) == b-a). "
        "ROUND 12: converted IN PLACE from a conditional-agg formula "
        "twin to the real view function (the a17 pattern); the r11 "
        "CORRECTNESS row covered the formula predecessor — the in-repo "
        "parity test covers this form until its next driver row in r13. "
        "Scale: one pre-agg shuffle plus the pivot's keyed exchange, "
        "both over bin-count-bounded cells, never pixels.",
    tags=("join", "xrd", "readback"),
)
def j5_diff_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.readback import diff_integrals

    o = _t(spark, sf_dir, "orders")
    src = o.groupBy((F.col("o_orderkey") % 8000).alias("k")).agg(
        F.max("o_totalprice").alias("intensity")
    )
    kind = F.element_at(
        F.array(
            F.lit("base"), F.lit("om"),
            F.lit("spotsmasked"), F.lit("arcsmasked"),
        ),
        F.expr("k div 2000").cast("int") + 1,
    )
    tth_idx = (F.expr("k div 40") % 50).cast("int")
    integrals = src.select(
        F.concat(F.lit("o-"), (F.col("k") % 40).cast("string")).alias(
            "image_id"
        ),
        tth_idx.alias("tth_idx"),
        (F.lit(1.0) + F.lit(0.2) * tth_idx).alias("tth"),
        kind.alias("kind"),
        "intensity",
    )
    return diff_integrals(integrals, sqrt_display=True)


# ---------------------------------------------------------------------------
# A11 — filtered central-band aggregate with broadcast-back median
# ---------------------------------------------------------------------------

@_register(
    "a11_central_band_percentile",
    """
    WITH med AS (
        SELECT l_partkey AS label, median(l_extendedprice) AS med_q
        FROM lineitem GROUP BY l_partkey
    ),
    central AS (
        SELECT m.label, l.l_quantity
        FROM lineitem l JOIN med m ON l.l_partkey = m.label
        WHERE abs(l.l_extendedprice - m.med_q) < 5000.0
    )
    SELECT label,
           percentile_cont(0.2) WITHIN GROUP (ORDER BY l_quantity) AS p20,
           count(*) AS n_central
    FROM central GROUP BY label
    """,
    doc="Central-band (|Q - medianQ| < eps) filtered percentile with the "
    "median broadcast back per label (classification.py:528-548; SURVEY "
    "§2.6 A11, §2.5 J2).",
    tags=("agg", "join", "xrd"),
)
def a11_central_band_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bin-once formulation: one shuffle collects (price, qty) per label;
    # the median, the central-band filter, and the p20 percentile are all
    # array expressions on the per-label side (vs 2 extra full-value
    # shuffles for median + percentile aggs). Labels are bounded groups.
    from xrddatapipeline_spark.functions.arrays import array_percentile

    li = _t(spark, sf_dir, "lineitem")
    g = (
        li.groupBy(F.col("l_partkey").alias("label"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_extendedprice", "l_quantity"))
            ).alias("_pq")
        )
        .withColumn("_n", F.size("_pq"))
        # median via O(1) element_at on the sorted struct array: a
        # transform()-the-whole-array median would be inlined (no CSE for
        # lambda exprs) into every downstream use and dominate runtime
        .withColumn(
            "med_q",
            (
                F.element_at(
                    F.col("_pq"), F.floor((F.col("_n") + 1) / 2).cast("int")
                )["l_extendedprice"]
                + F.element_at(
                    F.col("_pq"), F.ceil((F.col("_n") + 1) / 2).cast("int")
                )["l_extendedprice"]
            )
            / 2.0,
        )
        .withColumn(
            "_central",
            F.array_sort(
                F.transform(
                    F.filter(
                        F.col("_pq"),
                        lambda s: F.abs(s["l_extendedprice"] - F.col("med_q"))
                        < 5000.0,
                    ),
                    lambda s: s["l_quantity"],
                )
            ),
        )
        .withColumn("n_central", F.size("_central").cast("long"))
        .where(F.col("n_central") > 0)
    )
    return g.select(
        "label",
        array_percentile(F.col("_central"), F.col("n_central"), 0.2).alias("p20"),
        "n_central",
    )


# ---------------------------------------------------------------------------
# A15 — spottiness: fraction masked per band
# ---------------------------------------------------------------------------

@_register(
    "a15_fraction_masked_per_bin",
    """
    WITH cells AS (
        SELECT 'im-' || CAST(l_orderkey % 2 AS VARCHAR) AS image_id,
               CAST(l_partkey % 4096 AS INT) AS cell,
               sum(l_quantity) AS tot
        FROM lineitem GROUP BY 1, 2
    ),
    px AS (
        SELECT image_id, CAST(cell % 25 - 1 AS INT) AS qbin,
               CAST(tot AS BIGINT) % 7 < 3 AS is_om
        FROM cells
    )
    SELECT image_id, qbin,
           count(*) AS n_total,
           CAST(sum(CASE WHEN is_om THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked,
           CAST(sum(CASE WHEN is_om THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS frac_masked
    FROM px WHERE qbin >= 0
    GROUP BY image_id, qbin
    """,
    doc="Drives plans/image_pipeline.py::spottiness_per_qbin — the REAL "
        "A15/A16 fraction-masked operator (left-join the om pixel set "
        "onto the dense pixel table on (image_id, y, x), fillna false, "
        "drop qbin < 0, per-(image, qbin) counts; spottiness.py:16-27) — "
        "on a pixel frame constructed from lineitem: 2 images x 4096 "
        "cells (y = cell div 64, x = cell % 64), om membership decided "
        "by an exact integer predicate (CAST(sum qty AS BIGINT) % 7 < 3 "
        "— splits ~3/7 at EVERY scale factor, unlike a fixed threshold "
        "on SF-scaled totals), and qbin = cell % 25 - 1 so one band is "
        "negative and the operator's qbin >= 0 filter is exercised, not "
        "just present. ROUND 12: converted IN PLACE from a conditional-"
        "count formula twin (the a17 pattern); the r11 row covered the "
        "predecessor — in-repo parity covers this form until its r13 "
        "driver row. Scale: the om side joins as one distinct-cell "
        "frame; one keyed exchange for the per-(image, qbin) counts.",
    tags=("agg", "xrd"),
)
def a15_fraction_masked_per_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import (
        spottiness_per_qbin,
    )

    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.concat(
            F.lit("im-"), (F.col("l_orderkey") % 2).cast("string")
        ).alias("image_id"),
        (F.col("l_partkey") % 4096).cast("int").alias("cell"),
    ).agg(F.sum("l_quantity").alias("tot"))
    y = F.expr("cell div 64").cast("int").alias("y")
    x = (F.col("cell") % 64).cast("int").alias("x")
    px = cells.select(
        "image_id", y, x, (F.col("cell") % 25 - 1).cast("int").alias("qbin")
    )
    om_pixels = cells.where(F.col("tot").cast("long") % 7 < 3).select(
        "image_id", y, x
    )
    return spottiness_per_qbin(px, om_pixels)


# ---------------------------------------------------------------------------
# P7 — correction-image chain (dark + gain + flat background)
# ---------------------------------------------------------------------------

@_register(
    "p7_correction_chain",
    """
    WITH corr AS (
        SELECT l_partkey % 20 AS qbin,
               CAST(trunc(
                   (CAST(trunc(l_quantity * 10) AS INTEGER)
                    + CAST(trunc(p_retailprice * -0.01) AS INTEGER))
                   * (1000 + p_size) / 1000.0
                   - 5
               ) AS INTEGER) AS corrected
        FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT CAST(qbin AS BIGINT) AS qbin,
           count(*) AS n_px,
           CAST(sum(corrected) AS BIGINT) AS sum_val,
           min(corrected) AS min_val,
           max(corrected) AS max_val
    FROM corr GROUP BY 1
    """,
    doc="P7 correction chain analog (_getCorrImage, GSASII_imports.py:"
        "660-735): dark term added with int truncation, gain map applied "
        "as x*gain/1000 float division, flat background subtracted, final "
        "int cast — run through operators.corrections."
        "apply_correction_images with lineitem as the pixel frame and "
        "part as the per-'pixel' dark/gain tables (broadcast joins).",
    tags=("xrd", "corrections"),
)
def p7_correction_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.operators.corrections import (
        apply_correction_images,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        (F.col("l_quantity") * 10).alias("intensity"),
    )
    pt = _t(spark, sf_dir, "part")
    dark = pt.select(F.col("p_partkey").alias("pk"),
                     F.col("p_retailprice").alias("dark"))
    gain = pt.select(F.col("p_partkey").alias("pk"),
                     (1000 + F.col("p_size")).alias("gain"))
    corrected = apply_correction_images(
        li, dark=dark, dark_scale=-0.01, gain=gain, flat_bkg=5.0,
        keys=("pk",),
    )
    return (
        corrected.groupBy((F.col("pk") % 20).alias("qbin"))
        .agg(
            F.count("*").alias("n_px"),
            F.sum("intensity").alias("sum_val"),
            F.min("intensity").alias("min_val"),
            F.max("intensity").alias("max_val"),
        )
    )


# ---------------------------------------------------------------------------
# A18 — per-bin gradient stats with two-pass MAD (spottiness_azim_grad)
# ---------------------------------------------------------------------------

@_register(
    "a18_grad_stats_per_bin",
    """
    WITH b AS (
        SELECT CAST(floor(l_extendedprice / 10000) AS INT) AS qbin,
               l_quantity AS g
        FROM lineitem
    ),
    med AS (
        SELECT qbin, avg(g) AS mean_g, stddev_samp(g) AS std_g,
               median(g) AS med_g, count(*) AS n
        FROM b GROUP BY qbin
    )
    SELECT m.qbin, m.n, m.mean_g, m.std_g, m.med_g,
           (SELECT median(abs(r.g - m.med_g)) FROM b r WHERE r.qbin = m.qbin)
               AS mad_g
    FROM med m
    """,
    doc="Per-Q-bin mean/std/median + MAD of the 2nd azim gradient "
    "(spottiness.py:49-61; SURVEY §2.6 A18, §2.5 J6 two-pass MAD) — "
    "computed one-pass via sorted arrays (bounded bins).",
    tags=("agg", "xrd"),
)
def a18_grad_stats_per_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.functions.arrays import array_median

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") / 10000).cast("int").alias("qbin"),
        F.col("l_quantity").alias("g"),
    )
    g = (
        li.groupBy("qbin")
        .agg(
            F.count("*").alias("n"),
            F.avg("g").alias("mean_g"),
            F.stddev_samp("g").alias("std_g"),
            F.array_sort(F.collect_list("g")).alias("_vals"),
        )
        .withColumn("med_g", array_median(F.col("_vals"), F.col("n")))
        .withColumn(
            "_absdev",
            F.array_sort(
                F.transform(F.col("_vals"), lambda x: F.abs(x - F.col("med_g")))
            ),
        )
        .withColumn("mad_g", array_median(F.col("_absdev"), F.col("n")))
    )
    return g.select("qbin", "n", "mean_g", "std_g", "med_g", "mad_g")


# ---------------------------------------------------------------------------
# A20/J4 — cosine similarity between consecutive "frames" (csim)
# ---------------------------------------------------------------------------

@_register(
    "a20_cosine_consecutive",
    """
    WITH v AS (
        SELECT CAST(l_suppkey % 20 AS INT) AS seq,
               CAST(l_partkey % 64 AS INT) AS yx,
               CAST(sum(l_quantity) AS DOUBLE) AS inten
        FROM lineitem GROUP BY 1, 2
    ),
    p AS (
        SELECT seq, inten,
               coalesce(lag(inten) OVER w, inten) AS v_prev,
               first_value(inten) OVER w AS v_first
        FROM v
        WINDOW w AS (PARTITION BY yx ORDER BY seq)
    )
    SELECT 'ds0' AS dataset, seq,
           'ds0-' || CAST(seq AS VARCHAR) AS image_id,
           sum(inten * v_first)
               / sqrt(sum(inten * inten) * sum(v_first * v_first))
               AS csim_first,
           sum(inten * v_prev)
               / sqrt(sum(inten * inten) * sum(v_prev * v_prev))
               AS csim_prev
    FROM p GROUP BY seq
    """,
    doc="Drives plans/image_pipeline.py::cosine_similarity_series — the "
        "REAL J4/W1/A20 csim operator (window-over-Delta lag/first "
        "pairing per (dataset, yx) pixel series, packed-long yx, "
        "post-shuffle double cast, broadcast image_id re-attach; "
        "pipeline.py:506-557) — on a pixel frame constructed from "
        "lineitem (20 frames x 64 pixels, y = cell div 8, x = cell % 8, "
        "integer intensities so every dot product is an exact-integer "
        "sum in both engines). The oracle mirrors the operator's window "
        "semantics exactly (lag coalesced to self for the first frame, "
        "first_value over the default unbounded-preceding frame), which "
        "also pins the sparse-series behavior: a (yx, seq) cell missing "
        "at small SFs makes lag skip to the previous PRESENT frame in "
        "both engines identically. ROUND 12: converted IN PLACE from an "
        "equi-join formula twin to the real operator (the a17 pattern); "
        "the r11 row covered the predecessor — in-repo parity covers "
        "this form until its r13 driver row. Scale: the operator's "
        "narrow 4-field window exchange (plan-pinned by the round-8 "
        "shuffle-width test) + one per-image agg.",
    tags=("join", "agg", "xrd"),
)
def a20_cosine_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.image_pipeline import (
        cosine_similarity_series,
    )

    li = _t(spark, sf_dir, "lineitem")
    cell = (F.col("l_partkey") % 64).cast("int")
    pixels = (
        li.groupBy(
            (F.col("l_suppkey") % 20).cast("int").alias("seq"),
            cell.alias("cell"),
        )
        .agg(F.sum("l_quantity").cast("int").alias("intensity"))
        .select(
            F.lit("ds0").alias("dataset"),
            "seq",
            F.concat(F.lit("ds0-"), F.col("seq").cast("string")).alias(
                "image_id"
            ),
            F.expr("cell div 8").cast("int").alias("y"),
            (F.col("cell") % 8).cast("int").alias("x"),
            "intensity",
        )
    )
    return cosine_similarity_series(pixels)


# ---------------------------------------------------------------------------
# M1 — connected-component labeling through the driver contract. The raw
# label VALUES are kernel-implementation detail, so the output re-keys each
# component by its canonical pixel (min linear index) — a label-invariant
# quotient the DuckDB oracle reproduces with a recursive-CTE transitive
# closure over the 8-neighbor pixel graph.
# ---------------------------------------------------------------------------

@_register(
    "m1_label_components",
    """
    WITH RECURSIVE pts AS (
        SELECT DISTINCT CAST(o_orderkey % 96 AS INT) AS y,
               CAST((o_orderkey * 31 + o_custkey) % 96 AS INT) AS x
        FROM orders
        WHERE (o_orderkey * 7 + o_custkey) % 13 = 0
    ),
    nodes AS (SELECT y * 96 + x AS id, y, x FROM pts),
    edges AS (
        SELECT a.id AS src, b.id AS dst
        FROM nodes a JOIN nodes b
          ON abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1 AND a.id <> b.id
    ),
    walk(id, reach) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    comp AS (SELECT id, min(reach) AS comp_id FROM walk GROUP BY id)
    SELECT CAST(comp_id AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS area,
           min(n.y) AS min_y, min(n.x) AS min_x
    FROM comp JOIN nodes n ON comp.id = n.id
    GROUP BY comp_id
    """,
    doc="Connected-component labeling kernel (M1, classification.py:387 et "
    "al.) through the applyInPandas harness: a deterministic 96x96 mask is "
    "derived from the orders table, labeled 8-connected, and reduced to a "
    "per-component area table keyed by the component's min-linear-index "
    "pixel (label-assignment-invariant). Oracle: recursive-CTE transitive "
    "closure over the 8-neighbor graph — tractable at oracle scale, which "
    "is exactly why the engine uses the kernel/hash-min routes instead.",
    tags=("kernel", "xrd", "graph"),
)
def m1_label_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.operators.raster import label_pixels

    orders = _t(spark, sf_dir, "orders")
    side = 96
    pts = (
        orders
        # ~8% fill keeps the mask sparse enough for many components
        .where((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 13 == 0)
        .select(
            F.lit("m1").alias("image_id"),
            (F.col("o_orderkey") % side).cast("int").alias("y"),
            ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % side)
            .cast("int")
            .alias("x"),
        )
        .distinct()
    )
    labeled = label_pixels(pts, shape=(side, side), connectivity=2)
    return (
        labeled.groupBy("label")
        .agg(
            F.min(F.col("y").cast("long") * side + F.col("x"))
            .alias("component"),
            F.count("*").cast("long").alias("area"),
            F.min("y").alias("min_y"),
            F.min("x").alias("min_x"),
        )
        .drop("label")
        .select("component", "area", "min_y", "min_x")
    )


@_register(
    "image_plan_spine",
    """
    WITH RECURSIVE nums AS (
        SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS k FROM orders
    ),
    grid AS (
        SELECT 'sp' AS image_id,
               k < 329 AS planted,
               CAST(CASE WHEN k < 160 THEN 40
                         WHEN k < 304 THEN 60 + (k - 160) // 12
                         WHEN k < 329 THEN 20 + (k - 304) // 5
                         ELSE 80 + (k - 329) // 256 END AS INT) AS y,
               CAST(CASE WHEN k < 160 THEN 8 + k
                         WHEN k < 304 THEN 200 + (k - 160) % 12
                         WHEN k < 329 THEN 230 + (k - 304) % 5
                         ELSE (k - 329) % 256 END AS INT) AS x
        FROM nums WHERE k < 10569
    ),
    px AS (
        SELECT image_id, planted, y, x,
               2.0 + y / 1024.0 + (x % 4) / 512.0 AS q,
               x / 16.0 AS azim,
               (x / 16.0 + 180.0) % 360.0 AS azim_flip,
               CAST(CASE WHEN planted THEN 100 + (y*7 + x*13) % 50
                         ELSE 1 + (y*3 + x) % 20 END AS DOUBLE) AS intensity,
               y = 80 AS base_mask,
               CAST(CASE WHEN y = 119 THEN 0
                         ELSE 1 + x % 40 END AS INT) AS tth_idx
        FROM grid
    ),
    nodes AS (SELECT y * 256 + x AS id, y, x FROM px WHERE planted),
    edges AS (
        SELECT a.id AS src, b.id AS dst
        FROM nodes a JOIN nodes b
          ON abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1 AND a.id <> b.id
    ),
    walk(id, reach) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    comp AS (SELECT id, min(reach) AS label FROM walk GROUP BY id),
    lpx AS (
        SELECT p.image_id, c.label, p.y, p.x, p.q, p.azim, p.azim_flip
        FROM px p JOIN comp c ON p.y * 256 + p.x = c.id
        WHERE p.planted
    ),
    ltab AS (
        SELECT image_id, label, count(*) AS area,
               least(max(azim) - min(azim),
                     max(azim_flip) - min(azim_flip)) AS diff_azim,
               quantile_cont(q, 0.9) - quantile_cont(q, 0.1) AS diff_q
        FROM lpx GROUP BY image_id, label
    ),
    verdicts AS (
        SELECT image_id, label,
               CASE WHEN area > 100 AND diff_q < 0.1 AND diff_azim > 3.5
                         AND diff_azim > 100.0 * diff_q
                    THEN 2 ELSE 1 END AS classifier
        FROM ltab
    ),
    flags AS (
        SELECT l.image_id, l.y, l.x,
               TRUE AS is_om,
               v.classifier = 1 AS is_spot_px,
               v.classifier = 2 AS is_arc_px
        FROM lpx l JOIN verdicts v USING (image_id, label)
    ),
    flagged AS (
        SELECT p.image_id, p.tth_idx, p.base_mask,
               coalesce(f.is_om, FALSE) AS is_om,
               coalesce(f.is_spot_px, FALSE) AS is_spot_px,
               coalesce(f.is_arc_px, FALSE) AS is_arc_px,
               p.intensity / 1.0 * power(1.0, 1.5) AS v
        FROM px p LEFT JOIN flags f
          ON p.image_id = f.image_id AND p.y = f.y AND p.x = f.x
        WHERE p.tth_idx > 0
    ),
    kinds AS (
        SELECT image_id, 'base' AS kind, tth_idx,
               sum(CASE WHEN NOT base_mask THEN v END) AS sum_val,
               count(CASE WHEN NOT base_mask THEN 1 END) AS n_px
        FROM flagged GROUP BY image_id, tth_idx
        UNION ALL
        SELECT image_id, 'om', tth_idx,
               sum(CASE WHEN NOT (base_mask OR is_om) THEN v END),
               count(CASE WHEN NOT (base_mask OR is_om) THEN 1 END)
        FROM flagged GROUP BY image_id, tth_idx
        UNION ALL
        SELECT image_id, 'spotsmasked', tth_idx,
               sum(CASE WHEN NOT (base_mask OR is_spot_px) THEN v END),
               count(CASE WHEN NOT (base_mask OR is_spot_px) THEN 1 END)
        FROM flagged GROUP BY image_id, tth_idx
        UNION ALL
        SELECT image_id, 'arcsmasked', tth_idx,
               sum(CASE WHEN NOT (base_mask OR is_arc_px) THEN v END),
               count(CASE WHEN NOT (base_mask OR is_arc_px) THEN 1 END)
        FROM flagged GROUP BY image_id, tth_idx
    )
    SELECT image_id, kind, tth_idx,
           1.0 + (CAST(tth_idx AS DOUBLE) - 0.5) * 0.2 AS tth,
           coalesce(sum_val, 0.0) / greatest(n_px, 1) AS intensity
    FROM kinds
    """,
    doc="END-TO-END §2.9 spine, oracle-checked as ONE query (round-12 "
        "verdict stretch #7): a deterministic 128x256 raster with three "
        "planted components — a 160-px arc (area>100, tight q, 9.94-deg "
        "azim extent -> classifier 2), a 144-px compact blob (fails "
        "AZIM_MIN -> 1) and a 25-px speck (fails MIN_ARC_AREA -> 1) — "
        "plus ~10k background pixels, a one-row base_mask band (y=80) "
        "and a bin-0-routed row (y=119), driven through the plan's OWN "
        "operators: labeled_pixels_frame (M1 applyInPandas CC kernel + "
        "dense-probe join + the pmod azim_flip), label_table_from "
        "(A5-A9 classify, production thresholds), classifier_mask_flags "
        "(the exact non-gradient mask_flags branch of run_image_plan) "
        "and integrate_all (A1 x4 conditional-sum kinds, bin-0 drop, "
        "count clamp, tth_bin_center). The DuckDB oracle recomputes the "
        "whole chain independently: recursive-CTE transitive closure "
        "labels the planted mask (the m1 pattern — label values cancel "
        "because the output is label-free), re-derives the classifier "
        "with hard-coded thresholds and re-integrates all four kinds "
        "(classification.py:373-444 -> pipeline.py:375-414). All fixture "
        "values are exact-binary (1/16-degree azimuths, 1/1024 q steps, "
        "integer intensities, pol=dist_sq=1) so every aggregate is "
        "bit-determined. The global row_number is fixture construction "
        "only (<=11k rows); the spine itself is the production dataflow "
        "— kernel, one keyed classify exchange, one integrate exchange.",
    tags=("kernel", "xrd", "agg", "spine"),
)
def image_plan_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.image_pipeline import (
        classifier_mask_flags,
        integrate_all,
        label_table_from,
        labeled_pixels_frame,
        with_img_idx,
    )

    orders = _t(spark, sf_dir, "orders")
    nums = orders.select(
        (F.row_number().over(Window.orderBy("o_orderkey")) - 1).alias("k")
    ).where(F.col("k") < 329 + 40 * 256)
    px = nums.selectExpr(
        "'sp' AS image_id",
        "k < 329 AS planted",
        "CAST(CASE WHEN k < 160 THEN 40 "
        "WHEN k < 304 THEN 60 + (k - 160) DIV 12 "
        "WHEN k < 329 THEN 20 + (k - 304) DIV 5 "
        "ELSE 80 + (k - 329) DIV 256 END AS INT) AS y",
        "CAST(CASE WHEN k < 160 THEN 8 + k "
        "WHEN k < 304 THEN 200 + (k - 160) % 12 "
        "WHEN k < 329 THEN 230 + (k - 304) % 5 "
        "ELSE (k - 329) % 256 END AS INT) AS x",
    ).selectExpr(
        "image_id",
        "planted",
        "y",
        "x",
        # D-suffixed literals: a bare 1024.0 in SQL text is a DECIMAL
        # literal and decimal division rounds q to scale 6 (1/1024 needs
        # 10 places) — the values must be the same exact binary doubles
        # the DuckDB oracle computes
        "2.0D + y / 1024.0D + (x % 4) / 512.0D AS q",
        "x / 16.0D AS azim",
        "CAST(CASE WHEN planted THEN 100 + (y*7 + x*13) % 50 "
        "ELSE 1 + (y*3 + x) % 20 END AS DOUBLE) AS intensity",
        "CAST(y % 40 AS INT) AS qbin",
        "CAST(1.0 AS DOUBLE) AS pol",
        "CAST(1.0 AS DOUBLE) AS dist_sq",
        "y = 80 AS base_mask",
        "CAST(CASE WHEN y = 119 THEN 0 ELSE 1 + x % 40 END AS INT) "
        "AS tth_idx",
    )
    ipx = with_img_idx(px, ["sp"])  # the raster's one image
    om = ipx.where("planted").select("img_idx", "y", "x")
    lpx = labeled_pixels_frame(ipx, om, shape=(128, 256))
    ltab = label_table_from(lpx)
    flags = classifier_mask_flags(lpx, ltab)
    controls = ImageControls(iotth=(1.0, 9.0), out_channels=40)
    return integrate_all(px, flags, controls)


@_register(
    "a13_gradient_swap",
    """
    WITH base AS (
        SELECT CAST(l_orderkey % 3 AS INT) AS image_id,
               CAST(l_linenumber AS INT) AS y,
               CAST(l_suppkey AS INT) AS x,
               CAST(l_partkey % 8 AS INT) AS label,
               l_orderkey AS okey, l_suppkey AS skey,
               CASE WHEN (l_partkey % 8) % 3 = 0
                    THEN ((l_partkey * 7 + l_suppkey * 11) % 600 + 3300) % 3600
                    ELSE (l_partkey * 37 + l_suppkey * 11) % 3600
               END AS azim_tenths
        FROM lineitem WHERE l_orderkey % 7 < 3
    ),
    lpx AS (
        SELECT image_id, y, x, label, okey, skey,
               azim_tenths / 10.0 AS azim,
               ((azim_tenths + 1800) % 3600) / 10.0 AS azim_flip
        FROM base
    ),
    gc AS (
        SELECT image_id, label AS newlabel, label, azim, azim_flip
        FROM lpx WHERE (okey + skey) % 5 < 2
    ),
    onarc AS (
        SELECT DISTINCT image_id, label, (label % 2 = 0) AS on_arc FROM lpx
    ),
    ltab AS (
        SELECT DISTINCT image_id, label, (label + 1) / 40.0 AS diff_q FROM lpx
    ),
    clusters0 AS (
        SELECT image_id, newlabel,
               median(azim) AS med, median(azim_flip) AS med_flip,
               CAST(count(*) AS BIGINT) AS n_cluster_px
        FROM gc GROUP BY image_id, newlabel
    ),
    clusters AS (
        SELECT image_id, newlabel,
               CASE WHEN abs((med_flip - 180.0 + 360.0) % 360.0 - med) > 90.0
                    THEN (med_flip - 180.0 + 360.0) % 360.0 ELSE med
               END AS med_azim,
               n_cluster_px
        FROM clusters0
    ),
    swaps AS (
        SELECT c.image_id, c.newlabel AS label, c.med_azim,
               t.diff_q * 5.0 AS swap_radius
        FROM clusters c
        JOIN (SELECT o.image_id, o.label, l.diff_q
              FROM onarc o
              JOIN ltab l ON o.image_id = l.image_id AND o.label = l.label
              WHERE o.on_arc) t
          ON c.image_id = t.image_id AND c.newlabel = t.label
    ),
    flag0 AS (
        SELECT p.image_id, p.y, p.x, p.label,
               coalesce(o.on_arc, FALSE) AS on_arc,
               coalesce(
                   (CASE WHEN (p.azim - s.med_azim) % 360.0 < 0
                         THEN (p.azim - s.med_azim) % 360.0 + 360.0
                         ELSE (p.azim - s.med_azim) % 360.0 END
                    < s.swap_radius)
                   OR
                   (CASE WHEN (p.azim - s.med_azim) % 360.0 < 0
                         THEN (p.azim - s.med_azim) % 360.0 + 360.0
                         ELSE (p.azim - s.med_azim) % 360.0 END
                    > 360.0 - s.swap_radius),
                   FALSE) AS near_cut
        FROM lpx p
        LEFT JOIN onarc o ON p.image_id = o.image_id AND p.label = o.label
        LEFT JOIN swaps s ON p.image_id = s.image_id AND p.label = s.label
    ),
    flag1 AS (
        SELECT image_id, y, x, label, on_arc,
               max(CASE WHEN near_cut THEN 1 ELSE 0 END) AS near_cut
        FROM flag0 GROUP BY image_id, y, x, label, on_arc
    ),
    flag2 AS (
        SELECT image_id, y, x, label,
               (NOT on_arc) OR near_cut = 1 AS new_spot,
               on_arc AND near_cut = 0 AS new_arc
        FROM flag1
    ),
    agg AS (
        SELECT image_id, label,
               CAST(count(*) AS BIGINT) AS n_px,
               CAST(sum(CASE WHEN new_spot THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new_spot,
               CAST(sum(CASE WHEN new_arc THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_new_arc
        FROM flag2 GROUP BY image_id, label
    )
    SELECT a.image_id, a.label, a.n_px, a.n_new_spot, a.n_new_arc,
           c.med_azim, c.n_cluster_px
    FROM agg a
    LEFT JOIN clusters c
      ON a.image_id = c.image_id AND a.label = c.newlabel
    """,
    doc="A13/A14 gradient-stage swap logic (classification.py:566-606) on "
    "deterministic synthetic clusters derived from lineitem: circular-median "
    "azimuth per gradient cluster (plain + flipped axis, seam rewrap), "
    "swap radius 5 x Qwidth, per-pixel new_spot/new_arc decision — runs the "
    "REAL azimuth_swap_classify dataflow, aggregated per (image, label).",
    tags=("xrd", "gradient"),
)
def a13_gradient_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.plans.gradient_stage import azimuth_swap_classify

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 7 < 3)
    base = li.select(
        (F.col("l_orderkey") % 3).cast("int").alias("image_id"),
        F.col("l_linenumber").cast("int").alias("y"),
        F.col("l_suppkey").cast("int").alias("x"),
        (F.col("l_partkey") % 8).cast("int").alias("label"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_suppkey").alias("skey"),
        F.when(
            (F.col("l_partkey") % 8) % 3 == 0,
            ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 11) % 600 + 3300)
            % 3600,
        )
        .otherwise((F.col("l_partkey") * 37 + F.col("l_suppkey") * 11) % 3600)
        .alias("azim_tenths"),
    )
    lpx_full = base.select(
        "image_id", "y", "x", "label", "okey", "skey",
        (F.col("azim_tenths") / 10.0).alias("azim"),
        (((F.col("azim_tenths") + 1800) % 3600) / 10.0).alias("azim_flip"),
    )
    gc = lpx_full.where(((F.col("okey") + F.col("skey")) % 5) < 2).select(
        "image_id", F.col("label").alias("newlabel"), "label", "azim",
        "azim_flip",
    )
    keys = lpx_full.select("image_id", "label").distinct()
    on_arc = keys.withColumn("on_arc", (F.col("label") % 2) == 0)
    label_table = keys.withColumn(
        "diff_q", (F.col("label") + 1) / F.lit(40.0)
    )
    lpx = lpx_full.select("image_id", "y", "x", "label", "azim")
    clusters, flagged = azimuth_swap_classify(gc, lpx, on_arc, label_table)
    agg = flagged.groupBy("image_id", "label").agg(
        F.count("*").alias("n_px"),
        F.sum(F.col("new_spot").cast("long")).alias("n_new_spot"),
        F.sum(F.col("new_arc").cast("long")).alias("n_new_arc"),
    )
    return agg.join(
        clusters.select(
            "image_id",
            F.col("newlabel").alias("label"),
            "med_azim",
            F.col("n_px").alias("n_cluster_px"),
        ),
        ["image_id", "label"],
        "left",
    ).select(
        "image_id", "label", "n_px", "n_new_spot", "n_new_arc",
        "med_azim", "n_cluster_px",
    )


# ---------------------------------------------------------------------------
# F4-F9/M9 — geometric mask rasterization as Catalyst predicates
# ---------------------------------------------------------------------------

#: One mask object of every geometric kind the reference supports
#: (mask_widget.py:1694-1812, polymask.for). Coordinates are mm on a
#: 40x40 mm synthetic detector (200 um pixels, 200x200 px lattice).
_F4_MASKS: dict = {
    "Points": [[10.0, 10.0, 6.0]],
    "Rings": [[5.0, 1.0]],
    "Arcs": [[7.0, [350.0, 20.0], 1.0]],
    "Polygons": [[[3.1, 2.3], [33.7, 5.2], [29.4, 31.8], [6.2, 27.9]]],
    "Frames": [[1.3, 1.1], [38.6, 2.4], [37.9, 38.2], [2.2, 36.7]],
    # thresholds[1] is the active [lo, hi] band (reference convention);
    # .505 bounds sit between cent-quantized prices, so no comparison ties
    "Thresholds": [[0.0, 200000.0], [1000.505, 80000.505]],
    "Xlines": [5],
    "Ylines": [7],
}


@_register(
    "f4_geometric_mask_counts",
    """
    WITH px AS (
        SELECT CAST(l_partkey % 200 AS INT) AS x,
               CAST((l_orderkey * 7 + l_linenumber) % 200 AS INT) AS y,
               l_quantity * 0.2e0 AS tth,
               CAST((l_orderkey + l_partkey) % 360 AS DOUBLE) AS azim,
               l_extendedprice AS intensity,
               l_quantity AS qty,
               l_returnflag AS flag
        FROM lineitem
    ), mm AS (
        -- e0 suffixes are load-bearing: DuckDB evaluates plain decimal
        -- literals in EXACT decimal arithmetic (int + 0.5, 33.7 - 3.1),
        -- so pixel centers landing exactly on a mask edge (e.g. (6,5) ->
        -- (1.3, 1.1) = the frame vertex) and near-edge crossing tests
        -- flip strict comparisons vs Spark's doubles. Scientific
        -- notation forces DOUBLE, making every operation the identical
        -- IEEE op on both engines (0 divergent rows at sf0.01 but 12 at
        -- sf0.1 before this).
        SELECT *,
               (CAST(x AS DOUBLE) + 0.5e0) * 0.2e0 AS x_mm,
               (CAST(y AS DOUBLE) + 0.5e0) * 0.2e0 AS y_mm
        FROM px
    ), pred AS (
        SELECT flag, qty,
            ((x_mm - 10.0e0) * (x_mm - 10.0e0)
             + (y_mm - 10.0e0) * (y_mm - 10.0e0)) < 9.0e0 AS m_spot,
            abs(tth - 5.0e0) <= 0.5e0 AS m_ring,
            (abs(tth - 7.0e0) <= 0.5e0
             AND (azim >= 350.0e0 OR azim <= 20.0e0)) AS m_arc,
            ((CASE WHEN ((2.3e0 > y_mm) <> (5.2e0 > y_mm))
                    AND x_mm < (33.7e0 - 3.1e0) * (y_mm - 2.3e0) / (5.2e0 - 2.3e0) + 3.1e0
                   THEN 1 ELSE 0 END
            + CASE WHEN ((5.2e0 > y_mm) <> (31.8e0 > y_mm))
                    AND x_mm < (29.4e0 - 33.7e0) * (y_mm - 5.2e0) / (31.8e0 - 5.2e0) + 33.7e0
                   THEN 1 ELSE 0 END
            + CASE WHEN ((31.8e0 > y_mm) <> (27.9e0 > y_mm))
                    AND x_mm < (6.2e0 - 29.4e0) * (y_mm - 31.8e0) / (27.9e0 - 31.8e0) + 29.4e0
                   THEN 1 ELSE 0 END
            + CASE WHEN ((27.9e0 > y_mm) <> (2.3e0 > y_mm))
                    AND x_mm < (3.1e0 - 6.2e0) * (y_mm - 27.9e0) / (2.3e0 - 27.9e0) + 6.2e0
                   THEN 1 ELSE 0 END) % 2) = 1 AS m_poly,
            NOT (((CASE WHEN ((1.1e0 > y_mm) <> (2.4e0 > y_mm))
                    AND x_mm < (38.6e0 - 1.3e0) * (y_mm - 1.1e0) / (2.4e0 - 1.1e0) + 1.3e0
                   THEN 1 ELSE 0 END
            + CASE WHEN ((2.4e0 > y_mm) <> (38.2e0 > y_mm))
                    AND x_mm < (37.9e0 - 38.6e0) * (y_mm - 2.4e0) / (38.2e0 - 2.4e0) + 38.6e0
                   THEN 1 ELSE 0 END
            + CASE WHEN ((38.2e0 > y_mm) <> (36.7e0 > y_mm))
                    AND x_mm < (2.2e0 - 37.9e0) * (y_mm - 38.2e0) / (36.7e0 - 38.2e0) + 37.9e0
                   THEN 1 ELSE 0 END
            + CASE WHEN ((36.7e0 > y_mm) <> (1.1e0 > y_mm))
                    AND x_mm < (1.3e0 - 2.2e0) * (y_mm - 36.7e0) / (1.1e0 - 36.7e0) + 2.2e0
                   THEN 1 ELSE 0 END) % 2) = 1) AS m_frame,
            (intensity < 1000.505e0 OR intensity > 80000.505e0) AS m_thresh,
            (y = 5 OR x = 7) AS m_line
        FROM mm
    )
    SELECT flag,
           count(*) AS n_pts,
           CAST(sum(CASE WHEN m_spot THEN 1 ELSE 0 END) AS BIGINT) AS n_spot,
           CAST(sum(CASE WHEN m_ring THEN 1 ELSE 0 END) AS BIGINT) AS n_ring,
           CAST(sum(CASE WHEN m_arc THEN 1 ELSE 0 END) AS BIGINT) AS n_arc,
           CAST(sum(CASE WHEN m_poly THEN 1 ELSE 0 END) AS BIGINT) AS n_poly,
           CAST(sum(CASE WHEN m_frame THEN 1 ELSE 0 END) AS BIGINT) AS n_frame,
           CAST(sum(CASE WHEN m_thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_thresh,
           CAST(sum(CASE WHEN m_line THEN 1 ELSE 0 END) AS BIGINT) AS n_line,
           CAST(sum(CASE WHEN m_spot OR m_ring OR m_arc OR m_poly OR m_frame
                          OR m_thresh OR m_line THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked,
           sum(CASE WHEN NOT (m_spot OR m_ring OR m_arc OR m_poly OR m_frame
                              OR m_thresh OR m_line)
                    THEN qty ELSE 0.0 END) AS sum_qty_unmasked
    FROM pred
    GROUP BY flag
    """,
    doc="Geometric mask rasterization as pure Catalyst predicates "
    "(mask_widget.py:1694-1812, MakeMaskMap GSASII_imports.py:363-424, "
    "polymask.for crossing-number; SURVEY §2.4 F4-F9/M9). Exercises every "
    "mask kind individually AND the OR-composition `with_base_mask` folds "
    "into the image plan (immask wiring, round 10): spot disc in mm, tth "
    "ring, wraparound arc (P15), even-odd polygon + frame via the "
    "F.aggregate edge fold, threshold band, x/y lines. The oracle spells "
    "the crossing-number fold as per-edge CASE arithmetic. Only the spot "
    "predicate differs in formulation (Column**2 = POWER vs literal "
    "multiply); its boundary is >=0.02 from any lattice point "
    "((odd^2+odd^2) mod 8 = 2 != 900 mod 8), so 1-ulp pow rounding cannot "
    "flip a comparison. Every other predicate is the identical IEEE "
    "expression on both sides.",
    tags=("mask", "xrd"),
)
def f4_geometric_mask_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.operators.masks import geometric_mask_predicate

    c = ImageControls(pixel_size_x=200.0, pixel_size_y=200.0,
                      size_x=200, size_y=200)
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_partkey") % 200).cast("int").alias("x"),
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 200)
        .cast("int").alias("y"),
        (F.col("l_quantity") * 0.2).alias("tth"),
        ((F.col("l_orderkey") + F.col("l_partkey")) % 360)
        .cast("double").alias("azim"),
        F.col("l_extendedprice").alias("intensity"),
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    kinds = {
        "n_spot": {"Points": _F4_MASKS["Points"]},
        "n_ring": {"Rings": _F4_MASKS["Rings"]},
        "n_arc": {"Arcs": _F4_MASKS["Arcs"]},
        "n_poly": {"Polygons": _F4_MASKS["Polygons"]},
        "n_frame": {"Frames": _F4_MASKS["Frames"]},
        "n_thresh": {"Thresholds": _F4_MASKS["Thresholds"]},
        "n_line": {"Xlines": _F4_MASKS["Xlines"],
                   "Ylines": _F4_MASKS["Ylines"]},
    }
    aggs = [F.count("*").alias("n_pts")]
    for name, m in kinds.items():
        aggs.append(
            F.sum(
                F.when(geometric_mask_predicate(m, c), 1).otherwise(0)
            ).alias(name)
        )
    composite = geometric_mask_predicate(_F4_MASKS, c)
    aggs.append(
        F.sum(F.when(composite, 1).otherwise(0)).alias("n_masked")
    )
    aggs.append(
        F.sum(F.when(~composite, F.col("qty")).otherwise(0.0))
        .alias("sum_qty_unmasked")
    )
    return pts.groupBy("flag").agg(*aggs)


# ---------------------------------------------------------------------------
# P14 + tth_bin_center — azimuth banding and bin-center reconstruction
# ---------------------------------------------------------------------------

@_register(
    "p14_azim_band_profile",
    """
    WITH px AS (
        -- e0 suffixes force DOUBLE literals (DuckDB parses plain decimal
        -- literals as DECIMAL and does exact decimal arithmetic — diverges
        -- from Spark doubles at bin edges if the column were ever DECIMAL;
        -- the f4/bc75994 discipline, applied here per round-10 ADVICE)
        SELECT ((l_orderkey * 13 + l_partkey) % 3600) / 10.0e0 AS azim,
               l_quantity * 0.2e0 AS tth,
               l_quantity AS qty
        FROM lineitem
    ), b AS (
        SELECT CAST(floor(azim / 2.5e0) AS INT) AS band,
               CASE WHEN tth < 1.0e0 OR tth >= 9.0e0 THEN 0
                    ELSE CAST(floor((tth - 1.0e0) / 0.2e0) + 1 AS INT)
               END AS tbin,
               qty
        FROM px
    )
    SELECT band,
           count(*) AS n_px,
           sum(qty) AS sum_qty,
           count(DISTINCT tbin) AS n_tth_bins,
           min(1.0e0 + (CAST(tbin AS DOUBLE) - 0.5e0) * 0.2e0) AS min_center,
           max(1.0e0 + (CAST(tbin AS DOUBLE) - 0.5e0) * 0.2e0) AS max_center
    FROM b
    GROUP BY band
    """,
    doc="Azimuth banding + 2theta bin-center reconstruction "
    "(cache_creation.py:88-91 get_azimbands, :44-49 bin centers; SURVEY "
    "§2.3 P12/P14). Exercises azim_band, tth_bin_index's clamp-to-0 "
    "routing, and tth_bin_center; min/max of centers are exact order "
    "statistics over identically-computed doubles, so the hash is "
    "tie-proof.",
    tags=("functions", "xrd"),
)
def p14_azim_band_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xrddatapipeline_spark.functions.binning import (
        azim_band,
        tth_bin_center,
        tth_bin_index,
    )

    li = _t(spark, sf_dir, "lineitem")
    px = li.select(
        (((F.col("l_orderkey") * 13 + F.col("l_partkey")) % 3600) / 10.0)
        .alias("azim"),
        (F.col("l_quantity") * 0.2).alias("tth"),
        F.col("l_quantity").alias("qty"),
    )
    binned = px.select(
        azim_band("azim", 2.5).alias("band"),
        tth_bin_index("tth", 1.0, 9.0, 40).alias("tbin"),
        "qty",
    )
    return binned.groupBy("band").agg(
        F.count("*").alias("n_px"),
        F.sum("qty").alias("sum_qty"),
        F.countDistinct("tbin").alias("n_tth_bins"),
        F.min(tth_bin_center(F.col("tbin"), 1.0, 9.0, 40)).alias("min_center"),
        F.max(tth_bin_center(F.col("tbin"), 1.0, 9.0, 40)).alias("max_center"),
    )


# Corpus-scale registry entries (dedup / similarity / text / multimodal)
# register themselves on import; kept in a sibling module for size.
from xrddatapipeline_spark.plans import corpus_queries  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-window ordering
# ---------------------------------------------------------------------------
# The external driver hash-checks the FIRST 50 entries of ``queries()`` per
# round; everything past the window only gets the in-repo pytest parity run.
# Registration order is module layout, not priority, so ``ordered_registry()``
# re-orders the dict per a rotation schedule: every query gets a fresh driver
# CORRECTNESS row at least every 2 rounds. The schedule is DATA, not a
# comment: ``_PREVIOUS_WINDOW`` records the last round's actual window (the
# CORRECTNESS_r{N}.json keys), and tests/test_oracle_parity.py asserts
# ``REGISTRY ⊆ current_window ∪ _PREVIOUS_WINDOW`` — so a rotation that
# would leave any query >2 rounds driver-unchecked fails pytest before the
# driver ever runs. Next round: set _PREVIOUS_WINDOW to this round's window
# (CORRECTNESS_r10 keys) and front the complement.
# History: r01-r03 covered the 50 earliest-registered; r04 covered the other
# 41 plus 9 flagship anchors; r05 rotated the r01-r03-only cohort back in
# (fronted by grad_percentile_candidates, new that round); r06 fronted the
# r04-only cohort; r07 rotated the r05-only cohort back in plus the four
# new TPC-H analogs; r08 fronted the r06-only cohort; r09 rotated the
# r07-only cohort (46 names) back in plus 4 flagship anchors with fresh
# r08 rows; r10 fronted the r08-only cohort (47 names) plus the three
# queries NEW in round 10 (f4/p14/dedup_store_probe); r11 rotated the
# r09-only cohort back in plus the new a17_spot_stats anchor (slot freed
# by RETIRING the vanilla a5_regionprops_label_stats, whose surface is a
# strict subset of a17's — the retirement pattern for a full registry);
# r12 fronted the r10-only cohort with TWO slots freed the same way:
# dedup_store_probe retired (surface ⊂ the dedup_ingest_chain anchor's
# stage 3) and customers_without_orders retired (anti-join surface ⊂
# tpch_q22ish_idle_balance), making room for dedup_ingest_chain and
# w3_contour_stride_view; r13 (this window) rotates the r11-only cohort
# back in — fronting the four round-12 in-place conversions
# (a9/j5/a15/a20) AND the three round-13 ones (a6/a7/a8 now drive
# label_table_from; w5 now drives wrapped_extent_gap_scan) so every
# converted body earns a driver row for its NEW form — with ONE slot
# freed: w3_stride_downsample retired (row_number stride surface ⊂
# w3_contour_stride_view, green r12 row, which drives the real
# readback.contour_matrix), funding the new composed spine anchor
# image_plan_spine (label -> classify -> masked integrate as one
# oracle-checked query). Registry stays at 100; 2-round staleness bound
# intact.
_PREVIOUS_WINDOW: frozenset[str] = frozenset({
    # CORRECTNESS_r12.json keys — the driver-checked window last round
    "a13_gradient_swap", "ann_ivf_index_probe", "corpus_clean_filter",
    "dedup_ingest_chain", "dedup_minhash_pairs", "dedup_span_hash",
    "docs_chunk_tokens", "docs_length_deciles", "docs_mixture_token_budget",
    "docs_percent_rank", "docs_redact_terms", "docs_set_ops",
    "emb_kmeans_inertia", "emb_kmeans_update", "emb_lang_centroids",
    "emb_pq_adc_topk", "emb_pq_encode", "events_anomaly_mad",
    "events_cohort_retention", "events_daily_rollup", "events_funnel_steps",
    "events_pivot_daily", "events_rollup_grouping",
    "events_trailing_hour_stats", "f4_geometric_mask_counts",
    "j8_asof_signup_join", "j9_range_join_error_burst", "mm_frame_sample",
    "mm_resize_geometry", "orders_above_global_avg", "orders_rank_ties",
    "p14_azim_band_profile", "pack_context_windows",
    "t6_tumbling_window_counts", "text_contamination_check",
    "text_repetition_score", "text_tfidf_top_terms", "text_unigram_logprob",
    "tpch_q10ish_returned_topk", "tpch_q14_promo_share",
    "tpch_q16ish_supplier_cnt", "tpch_q18ish_big_orders", "tpch_q1_pricing",
    "tpch_q22ish_idle_balance", "tpch_q3ish_order_volume_topk",
    "tpch_q4ish_exists_semijoin", "tpch_q5ish_regional_volume",
    "tpch_q6ish_forecast_revenue", "tpch_q7ish_nation_volume",
    "w3_contour_stride_view",
})

#: The external driver's window size (first N of ``queries()``).
DRIVER_WINDOW_SIZE: int = 50

_DRIVER_WINDOW_FIRST: tuple[str, ...] = (
    # The seven in-place conversions FIRST (round-12 verdict Next #1/#2
    # and the standing rule from commit b950b62: a changed query stays
    # in-window until its new body earns a driver row): a9/j5/a15/a20
    # converted in r12, a6/a7/a8 + w5 converted this round.
    "a9_shape_classifier",
    "j5_diff_pivot",
    "a15_fraction_masked_per_bin",
    "a20_cosine_consecutive",
    "a6_area_filter",
    "a7_azim_extent_wrap",
    "a8_percentile_spread",
    "w5_circular_gap_scan",
    # NEW in round 13, in the slot freed by the w3_stride_downsample
    # retirement: the composed §2.9 spine anchor (r12 verdict stretch #7).
    "image_plan_spine",
    # Rest of the r11-only cohort: driver rows 2 rounds stale after r12.
    "a11_central_band_percentile",
    "a12_global_percentiles",
    "a16_count_distinct",
    "a17_spot_stats",
    "a18_grad_stats_per_bin",
    "a1_integrate_binned_mean",
    "a2_ring_median_mad",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_lsh_bucketed",
    "dedup_clusters_star",
    "dedup_embedding_cosine",
    "dedup_exact_hash",
    "dedup_keep_list",
    "dedup_minhash_bands",
    "dedup_near_dup_clusters",
    "dedup_ngram_jaccard",
    "dedup_semantic_ivf",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "fused_grouping_sets_split",
    "grad_percentile_candidates",
    "m1_label_components",
    "mm_binary_metadata",
    "mm_decode_features",
    "p7_correction_chain",
    "s11_json_props_extract",
    "sample_stratified_hash",
    "t6_interval_join_counts",
    "t6_sliding_window_stats",
    "text_fingerprint_winnow",
    "text_langid_ngram",
    "text_quality_score",
    "text_token_stats",
    "text_top_tokens",
    "tpch_q13ish_custdist",
    "tpch_q17ish_small_qty_revenue",
    "tpch_q19ish_disjunctive_revenue",
    "tpch_q21ish_last_to_ship",
    "w1_lag_first_pairing",
    "w6_sessionize_events",
)

# Names allowed to be absent from REGISTRY (queries gated behind optional
# fixtures/deps that may not import in every environment). Currently none —
# every listed name must exist, or ordered_registry() raises.
_FIXTURE_GATED: frozenset[str] = frozenset()


def ordered_registry() -> dict[str, QueryDef]:
    """REGISTRY re-ordered so the driver's 50-query window maximizes coverage.

    Names in ``_DRIVER_WINDOW_FIRST`` come first (in that order); everything
    else follows in registration order. A listed name missing from REGISTRY
    is a hard error unless explicitly opted out via ``_FIXTURE_GATED`` —
    round 4 proved a silent skip can fake coverage (a promised query that
    was never implemented shrank the window without any test failing).
    """
    unknown = [
        n for n in _DRIVER_WINDOW_FIRST
        if n not in REGISTRY and n not in _FIXTURE_GATED
    ]
    if unknown:
        raise KeyError(
            f"_DRIVER_WINDOW_FIRST names not in REGISTRY: {unknown} — "
            "implement/register them or add to _FIXTURE_GATED explicitly"
        )
    dupes = [
        n for n in set(_DRIVER_WINDOW_FIRST)
        if _DRIVER_WINDOW_FIRST.count(n) > 1
    ]
    if dupes:
        raise KeyError(f"_DRIVER_WINDOW_FIRST duplicate names: {dupes}")
    ordered: dict[str, QueryDef] = {}
    for name in _DRIVER_WINDOW_FIRST:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, q in REGISTRY.items():
        ordered.setdefault(name, q)
    return ordered
