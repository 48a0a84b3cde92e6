"""The per-image XRD reduction plan, composed as DataFrame transforms.

Mirrors ``run_iteration`` (pipeline.py:78-567) and the groupby
classification path (classification.py:373-444; SURVEY §2.9, §3.1 step 4),
re-expressed Spark-first:

    pixels + calib columns         (J1; closed-form, no join)
      → base mask                  (F1-F3: nonpositive ∨ azim-range ∨ predef)
      → ring median/MAD outliers   (A2/A4/J7 as groupBy + broadcast-back)
      → binary closing             (M2 kernel)
      → cluster labeling           (M1 kernel)
      → shape classification       (A5-A9: area / azim-extent / Q-extent)
      → 4 integrals                (A1, base/om/spots/arcs)
      → spot & spottiness stats    (A15-A17)
      → cosine similarity          (J4/W1/A20 as window + agg)

Every stage returns a DataFrame; nothing collects to the driver. At 100 TB
scale the plan shuffles on image_id (kernel stages) and on the small
aggregation keys; calibration is closed-form column expressions on the
pixel rows (``calib.cache.with_calib_columns``), so no stage joins a
calibration table at any detector size.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import Future, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from xrddatapipeline_spark.barrier import release as _release
from xrddatapipeline_spark.calib.cache import with_calib_columns
from xrddatapipeline_spark.calib.geometry import ImageControls
from xrddatapipeline_spark.functions.binning import tth_bin_center
from xrddatapipeline_spark.operators.ring_stats import flag_outliers
from xrddatapipeline_spark.operators.raster import close_mask_pixels, label_pixels

#: ((applicationId, shapes), component) pairs whose kernel-scratch warmup
#: has already been submitted this process — python workers persist across
#: batches within a session, so one warmup per session covers them all and
#: repeat submissions only occupy task slots (see run_image_plan).
#: Guarded by a lock: two CONCURRENT run_image_plan calls (the bench's
#: default prep mode runs the pilot alongside the cold batch) would
#: otherwise both pass the check before either records, double-submitting
#: the ~96-task-slot warmup job round 11 worked to eliminate.
_WARMUP_SUBMITTED: set = set()
import threading as _threading  # noqa: E402

_WARMUP_LOCK = _threading.Lock()


def _warmup_missing(base, bands: bool, submitted: set) -> frozenset:
    """Scratch-warmup components still needed for `base` (session, shapes).

    The h-maxima set ("hmax") is always needed; the band-gradient set
    ("bands") only with the gradient stage. Tracked per COMPONENT, so a
    plan that needs a subset of an already-warmed set (a gradient-off plan
    after a gradient-on one) submits nothing instead of a redundant job."""
    needed = {"hmax", "bands"} if bands else {"hmax"}
    return frozenset(p for p in needed if (base, p) not in submitted)

# classification thresholds — classification.py:849-860 / SURVEY §2.9
Q_MAX = 0.1
AZIM_MIN = 3.5
AZIM_Q_SHAPE_MIN = 100.0
MIN_ARC_AREA = 100


def with_base_mask(
    px: DataFrame, controls: ImageControls | None = None
) -> DataFrame:
    """F1-F3: nonpositive ∨ azimuth-range ∨ the .immask geometric masks
    (pipeline.py:148-165). When ``controls.extra["immask"]`` carries a
    parsed mask record (sources.controls.parse_immask), its OR-composition
    folds into base_mask as pure column expressions — zero extra
    exchanges, stays in whole-stage codegen. The predef RASTER branch
    (a .tif mask, cache_creation.py:239-246) is wired by run_image_plan
    (it needs a broadcast join, not a predicate)."""
    mask = (F.col("intensity") <= 0) | F.col("azim_mask")
    im = (controls.extra or {}).get("immask") if controls is not None else None
    if im:
        from xrddatapipeline_spark.operators.masks import (
            geometric_mask_predicate,
        )

        mask = mask | geometric_mask_predicate(im, controls)
    return px.withColumn("base_mask", mask)


#: the plan broadcasts the sparse mask sets into its dense joins up to
#: this many materialized outlier rows (see run_image_plan)
_SPARSE_BROADCAST_ROWS = 4_000_000

#: detector side limit of the packed pixel key: y * 8192 + x < 2^26
_PK_MAX_SIDE = 8192


def check_plan_args(controls: ImageControls, barrier: str) -> None:
    """Raise ``ValueError`` for a barrier other than ``local_checkpoint``
    or ``hybrid``, or a detector side above the packed key's 8192 px.
    Pure driver-side: callers run it before submitting any job."""
    if barrier not in ("local_checkpoint", "hybrid"):
        raise ValueError(f"unknown barrier {barrier!r}")
    if max(controls.size_y, controls.size_x) > _PK_MAX_SIDE:
        raise ValueError(
            f"detector {controls.size_y}x{controls.size_x} exceeds the "
            f"packed pixel key's {_PK_MAX_SIDE} px per side"
        )


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of the RDDs the context holds persisted (one py4j call)."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _release_new_rdds(sc, known: set[int], site: str) -> None:
    """Unpersist each persisted RDD outside ``known`` created under the
    call-site label ``site``: what an eager barrier job that raised left
    registered. The label keeps a concurrent plan's storage out of it."""
    rdds = sc._jsc.getPersistentRDDs()
    for k in rdds.keySet().toArray():
        rdd = rdds.get(k).rdd()
        if int(k) not in known and rdd.getCreationSite() == site:
            rdd.unpersist(False)


def _image_set(df: DataFrame) -> list:
    """The frame's sorted distinct image_ids (one collect job)."""
    return sorted(r[0] for r in df.select("image_id").distinct().collect())


def with_img_idx(px: DataFrame, ids: list | None = None) -> DataFrame:
    """Attach ``img_idx int``: each row's position in the sorted image set
    ``ids`` (one job collects it from ``px`` when not given). The stage
    functions key their dense joins and groupings on packed longs built
    from this column (see ``_pk_expr``); ``run_image_plan`` attaches it to
    the px barrier, so the literal-map lookup runs once per pixel per
    batch. Direct callers of the stage functions attach it with this
    helper."""
    if ids is None:
        ids = _image_set(px)
    if not ids:
        return px.withColumn("img_idx", F.lit(None).cast("int"))
    imap = F.create_map(
        *[lit for i, s in enumerate(ids) for lit in (F.lit(s), F.lit(i))]
    )
    return px.withColumn("img_idx", imap[F.col("image_id")].cast("int"))


def _pk_expr() -> "F.Column":
    """Collision-free packed pixel key (img_idx << 26) | (y * 8192 + x).

    The dense-side probes on (image_id STRING, y, x) dominated three
    barrier stages at 8 x 2880^2: an isolated decomposition priced the
    3-column broadcast probe at 253 run core-s per 66 M-row pass against
    27 for the same join on ONE packed long, because a single bigint key
    takes Spark's LongHashedRelation path instead of generic UnsafeRow
    hashing with a var-length string per row. Keying the outlier ring
    stats, the lpx probe and the intspot flag join on packed longs removed
    ~557 run core-s per warm 8 x 2880^2 batch (outliers 173 -> 39, lpx
    233 -> 40, intspot 321 -> 91; 4 alternating reps, every rep a win).
    Grouping the h-maxima feed by the int index instead of the image_id
    string measured a wash (546.7 -> 539.6 MB post-compression shuffle,
    run core-s split 2-2 across reps), so that stage keeps image_id.

    y*8192+x < 2^26 holds because run_image_plan refuses a detector with
    either side above ``_PK_MAX_SIDE``; the pack is a bijection, so the
    joined row set is bit-identical to the 3-column join (pinned by
    tests/test_r14_pk_parity.py)."""
    return (
        F.shiftleft(F.col("img_idx").cast("long"), 26)
        + F.col("y").cast("long") * 8192
        + F.col("x")
    )


def outlier_pixels(px: DataFrame, esd_mul: float = 3.0) -> DataFrame:
    """A2/A4: per-ring sigma-clip on not-base-masked pixels; returns the
    sparse outlier pixel set (image_id, img_idx, y, x).

    The ring-stats group/join key is ONE packed long
    ((img_idx << 32) | ring_idx), so the histogram aggregation and the
    stats join-back never hash a var-length string per dense row (see
    _pk_expr). ``px`` carries ``img_idx`` (``with_img_idx``).

    The order statistics take the histogram route (one row per distinct
    (ring, intensity), map-side combined; exactly equal to the per-pixel
    array route, pinned in tests/test_ring_stats_hist.py). Its shuffle
    carries ~35-65x fewer rows for quantized detector counts; the round-14
    alternating A/B at 8 x 2880^2 / 2500 rings read histogram 11.8 s vs
    array 39.2 s per pass, then 38.3 vs 69.7 s in the live plan, winning
    every rep (OPTIMIZATION_r14.md §6)."""
    keyed = px.where(~F.col("base_mask") & (F.col("ring_idx") > 0)).select(
        (
            F.shiftleft(F.col("img_idx").cast("long"), 32) + F.col("ring_idx")
        ).alias("_gk"),
        "image_id", "img_idx", "y", "x", "intensity",
    )
    flagged = flag_outliers(
        keyed,
        keys=["_gk"],
        value="intensity",
        esd_mul=esd_mul,
        min_count=10,
        histogram=True,
    )
    return flagged.where(F.col("is_outlier")).select(
        "image_id", "img_idx", "y", "x"
    )


def closed_outlier_pixels(
    outliers: DataFrame, shape: tuple[int, int]
) -> DataFrame:
    """M2: 3x3 binary closing of the outlier mask (pipeline.py:191-205);
    returns the closed set keyed (img_idx, y, x)."""
    return close_mask_pixels(outliers, shape=shape, radius=1, id_col="img_idx")


def labeled_pixels_frame(
    px: DataFrame, om_pixels: DataFrame, shape: tuple[int, int],
    sparse_hint=None, controls: ImageControls | None = None,
    closing_radius: int | None = None,
) -> DataFrame:
    """The labeled sparse pixel set feeding shape classification: label
    the closed outlier mask (M1), then attach the per-pixel physics
    columns from the dense table.

    ``om_pixels`` is keyed (img_idx, y, x) and ``px`` carries ``img_idx``
    (``with_img_idx``): the labeling kernel groups by the int index, and
    the dense probe joins on ONE packed long (see ``_pk_expr``) — the
    dense side's (image_id STRING, y, x) hash per row was ~70% of this
    barrier's CPU.

    q/azim feed the shape classifier; intensity/qbin ride along so
    downstream per-label stats (spot_stats) never probe the dense pixel
    table again — the labeled set is ~1% of pixels, so two extra int
    columns in the sparse barrier are free compared to a second 66M-row
    hash-probe of a multi-column key (measured 24 s/task of pure CPU in
    the warm 8 x 2880^2 profile).

    With ``controls`` set (run_image_plan always sets it), the dense
    probe reads just (image_id, img_idx, y, x, intensity) off the
    barrier, and q/azim/qbin are recomputed closed-form on the
    ~1%-of-pixels sparse rows with the SAME expressions that built the
    px barrier, so the values are bit-identical. Only ``intensity`` is
    data; everything else is geometry. ``controls=None`` reads q/azim/qbin
    from ``px`` instead, for callers whose ``px`` carries them
    (classify_clusters, the driver queries).

    ``closing_radius`` (round 14): when set, ``om_pixels`` is the RAW
    outlier set and the M2 closing runs FUSED with the labeling kernel
    (operators.raster.close_and_label_pixels) — identical rows to
    closing-then-labeling, one kernel pass / one exchange / no
    intermediate closed-mask barrier. The closed mask itself is then the
    (image_id, y, x) projection of this frame (every closed pixel is
    labeled at min_area=0). ``None`` keeps the pre-closed input path
    (classify_clusters, image_plan_spine)."""
    if closing_radius is not None:
        from xrddatapipeline_spark.operators.raster import (
            close_and_label_pixels,
        )

        labeled = close_and_label_pixels(
            om_pixels, shape=shape, radius=closing_radius, connectivity=2,
            id_col="img_idx",
        )
    else:
        labeled = label_pixels(
            om_pixels, shape=shape, connectivity=2, id_col="img_idx"
        )
    labeled = labeled.select(_pk_expr().alias("_pk"), "label")
    if sparse_hint is not None:
        labeled = sparse_hint(labeled)
    probe = ["image_id", "img_idx", "y", "x", "intensity"]
    if controls is None:
        probe += ["q", "azim", "qbin"]
    lpx = px.select(*probe, _pk_expr().alias("_pk")).join(labeled, "_pk")
    if controls is not None:
        lpx = with_calib_columns(lpx, controls)
    # flipped azimuth mirrors the axis so wrapped arcs read contiguous (A7)
    return lpx.select(
        "image_id", "img_idx", "y", "x", "label",
        "q", "azim", "intensity", "qbin",
        F.pmod(F.col("azim") + 180.0, F.lit(360.0)).alias("azim_flip"),
    )


def label_table_from(lpx: DataFrame, wrap_mode: str = "flip") -> DataFrame:
    """Per-label shape classification over an (already materialized)
    labeled pixel set: area / circular azimuth extent / Q extent -> arc
    vs spot (A5-A9). Split from ``labeled_pixels_frame`` (round 8) so
    run_image_plan derives it from the CHECKPOINTED lpx barrier — the
    previous single-function form rebuilt label_table from the lazy lpx,
    re-running the labeling kernel AND the 66M-row px join a second time
    inside the label_table checkpoint job.

    ``wrap_mode`` selects the circular-extent formulation (round 13):

    - ``"flip"`` (default, the hot plan): least(raw extent, mirrored-axis
      extent) — one hash aggregation, no sort. For a zero-crossing arc
      with a single angular gap this equals the reference's recompute.
    - ``"gap"``: the reference's EXACT semantics (classification.py:
      659-666) — labels whose raw extent exceeds 359 report 360 minus
      the FIRST sorted consecutive gap > 10 (see
      ``wrapped_extent_gap_scan``). One keyed window sort + the same
      single aggregation: equal exchange count, extra sort. The two
      modes diverge on wrapped labels with MULTIPLE >10-degree gaps and
      on labels spanning exactly <=359 degrees across zero (below the
      reference's trigger); golden parity is pinned on "flip", "gap" is
      the reference-faithful option.
    """
    diff_q = (
        F.expr("percentile(q, 0.9)") - F.expr("percentile(q, 0.1)")
    ).alias("diff_q")
    if wrap_mode == "flip":
        ext = F.max("azim") - F.min("azim")
        extf = F.max("azim_flip") - F.min("azim_flip")
        label_table = lpx.groupBy("image_id", "label").agg(
            F.count("*").alias("area"),
            F.least(ext, extf).alias("diff_azim"),
            diff_q,
        )
    elif wrap_mode == "gap":
        label_table = _gap_scan(
            lpx, [F.count("*").alias("area"), diff_q], carry=("q",)
        ).select(
            "image_id", "label", "area",
            F.col("extent").alias("diff_azim"), "diff_q",
        )
    else:
        raise ValueError(f"wrap_mode must be 'flip' or 'gap', got {wrap_mode!r}")
    # azim_vs_Q as a cross-multiplied comparison, NOT a division: a
    # constant-q arc (every pixel at the same ring radius) has diff_q
    # exactly 0, and under ANSI mode (Spark 4 default) diff_azim/diff_q
    # raises DIVIDE_BY_ZERO once the earlier conjuncts pass — the
    # reference's numpy divide yields inf (> threshold -> arc) for
    # diff_azim > 0 and nan (not arc) for 0/0, which is precisely what
    # diff_azim > threshold * diff_q evaluates to at diff_q == 0
    # (round 13; found by the wrap_mode fixture, latent since round 2).
    return label_table.withColumn(
        "classifier",
        F.when(
            (F.col("area") > MIN_ARC_AREA)
            & (F.col("diff_q") < Q_MAX)
            & (F.col("diff_azim") > AZIM_MIN)
            & (F.col("diff_azim") > F.lit(AZIM_Q_SHAPE_MIN) * F.col("diff_q")),
            F.lit(2),
        ).otherwise(F.lit(1)),
    )


def wrapped_extent_gap_scan(
    lpx: DataFrame, wrap_threshold: float = 359.0, min_gap: float = 10.0
) -> DataFrame:
    """Reference-exact wraparound azimuth extent (W5,
    classification.py:659-666 and the duplicate at :766-775): per
    (image_id, label) the raw extent is max(azim) - min(azim); a label
    whose raw extent exceeds ``wrap_threshold`` (the reference's
    ``diffs_azim > 359`` trigger) crosses azimuth zero, so its true
    extent is recomputed by sorting the azimuths, diffing consecutive
    values, taking the FIRST gap > ``min_gap`` (np.argwhere(diffs>10)[0])
    and reporting 360 - gap.

    This is the reference's own formulation, distinct from the
    flipped-axis least() heuristic ``label_table_from`` uses in the hot
    plan: for a wrapped label with MORE than one >10-degree gap the two
    disagree (the gap-scan keeps everything past the first gap; the flip
    takes the tightest mirrored hull), so this operator is kept as the
    parity surface for the reference's semantics (SURVEY §2.7 W5).

    Fallback: a label above the threshold with NO gap > min_gap keeps
    its raw extent. The reference would raise (it indexes [0] of an
    empty argwhere); a deterministic answer is kept instead so a single
    pathological label cannot kill a 1000-image batch.

    Returns (image_id, label, extent_raw, extent). Scale: one keyed
    window sort plus one keyed aggregation — the same single exchange
    as label_table_from; labels bound the group size.
    """
    return _gap_scan(
        lpx, [], wrap_threshold=wrap_threshold, min_gap=min_gap
    ).select("image_id", "label", "extent_raw", "extent")


def _gap_scan(
    lpx: DataFrame,
    aggs: list,
    carry: tuple = (),
    wrap_threshold: float = 359.0,
    min_gap: float = 10.0,
) -> DataFrame:
    """The one first-gap scan behind ``wrapped_extent_gap_scan`` and
    ``label_table_from(wrap_mode="gap")``: per (image_id, label) the
    ``extent_raw`` / ``extent`` pair, plus the caller's ``aggs`` computed
    in the same aggregation over the ``carry`` columns."""
    w = Window.partitionBy("image_id", "label").orderBy("azim")
    gaps = lpx.select("image_id", "label", "azim", *carry).withColumn(
        "gap", F.col("azim") - F.lag("azim").over(w)
    )
    # first qualifying gap in azimuth order == min struct(azim-of-gap, gap):
    # struct min orders by the first field, and qualifying rows have
    # distinct azim (a duplicate azim's gap is 0, never > min_gap)
    first_gap = F.min(
        F.when(
            F.col("gap") > min_gap,
            F.struct(F.col("azim").alias("at"), F.col("gap").alias("g")),
        )
    )
    agg = gaps.groupBy("image_id", "label").agg(
        (F.max("azim") - F.min("azim")).alias("extent_raw"),
        first_gap.alias("_fg"),
        *aggs,
    )
    return agg.withColumn(
        "extent",
        F.when(
            (F.col("extent_raw") > wrap_threshold)
            & F.col("_fg").isNotNull(),
            F.lit(360.0) - F.col("_fg.g"),
        ).otherwise(F.col("extent_raw")),
    )


def classifier_mask_flags(lpx: DataFrame, label_table: DataFrame) -> DataFrame:
    """Sparse per-pixel mask flags from the classifier verdicts: every
    labeled pixel is an outlier-mask member (is_om); spot/arc membership
    follows its label's classifier (1 = spot, 2 = arc). This is the
    non-gradient mask_flags branch of run_image_plan, split out so the
    driver's composed spine anchor (image_plan_spine) executes the
    plan's own code, not a re-spelling (F11/F12 membership join,
    pipeline.py:375-414 mask variants). The flags keep lpx's ``img_idx``
    when it has one (labeled_pixels_frame's lpx does), for the packed
    intspot join."""
    pixel = [c for c in ("image_id", "img_idx", "y", "x") if c in lpx.columns]
    return lpx.join(
        label_table.select("image_id", "label", "classifier"),
        ["image_id", "label"],
    ).select(
        *pixel,
        F.lit(True).alias("is_om"),
        (F.col("classifier") == 1).alias("is_spot_px"),
        (F.col("classifier") == 2).alias("is_arc_px"),
    )


def classify_clusters(
    px: DataFrame, om_pixels: DataFrame, shape: tuple[int, int],
    sparse_hint=None, wrap_mode: str = "flip",
) -> tuple[DataFrame, DataFrame]:
    """Shape classification (qwidth_area_classification_groupby,
    classification.py:373-444): label the closed outlier mask, aggregate
    per-label area / circular azimuth extent / Q extent, decide arc vs spot.

    Returns (labeled_pixels, label_table) where label_table carries
    (image_id, label, area, diff_azim, diff_q, classifier) with
    classifier 1 = spot, 2 = arc (A9). ``wrap_mode`` selects the
    circular-extent formulation (see label_table_from). Lazy composition
    wrapper; run_image_plan uses the split halves so the label_table job
    reads the lpx BARRIER instead of re-running the kernel."""
    lpx = labeled_pixels_frame(px, om_pixels, shape, sparse_hint)
    return lpx, label_table_from(lpx, wrap_mode=wrap_mode)


def integrate_all(
    px: DataFrame,
    mask_flags: DataFrame,
    controls: ImageControls,
    sparse_hint=None,
) -> DataFrame:
    """A1 x4: base / om / spotsmasked / arcsmasked integrals
    (pipeline.py:375-414). Returns (image_id, kind, tth_idx, tth, intensity).

    Corrected intensity I/pol * dist_sq**1.5 (pipeline.py:63).

    ``mask_flags`` is ONE sparse table (image_id, y, x, is_om,
    is_spot_px, is_arc_px): the om/spot/arc memberships all derive from
    the same labeled-cluster rows, so a single left join flags every
    variant — three separate mask joins measured ~3x slower (each one
    re-shuffles the dense pixel side). Join strategy is left to AQE,
    which sees the flag table's true runtime size (an explicit
    broadcast() hint measured slower still).

    All 4 variants are computed in ONE hash aggregation with conditional
    sums (equivalent to the reference's 4 bincount passes for every bin > 0,
    since bin-0-routed i.e. masked rows never contribute to a kept bin).
    A naive 4-branch union would recompute the whole upstream plan —
    including the outlier groupBys and the raster kernels — once per kind;
    at any scale that is 4x the work and 4x the shuffles."""
    value = F.col("intensity") / F.col("pol") * F.pow(F.col("dist_sq"), 1.5)
    kinds = {
        "base": F.col("base_mask"),
        "om": F.col("base_mask") | F.col("is_om"),
        "spotsmasked": F.col("base_mask") | F.col("is_spot_px"),
        "arcsmasked": F.col("base_mask") | F.col("is_arc_px"),
    }
    if sparse_hint is not None:
        mask_flags = sparse_hint(mask_flags)
    flagged = (
        px.join(mask_flags, ["image_id", "y", "x"], "left")
        .fillna(
            {"is_om": False, "is_spot_px": False, "is_arc_px": False}
        )
        .withColumn("_v", value)
    )
    aggs = []
    for kind, mask in kinds.items():
        aggs.append(F.sum(F.when(~mask, F.col("_v"))).alias(f"sum_{kind}"))
        aggs.append(F.count(F.when(~mask, F.lit(1))).alias(f"n_{kind}"))
    wide = (
        flagged.where(F.col("tth_idx") > 0)
        .groupBy("image_id", "tth_idx")
        .agg(*aggs)
    )
    stack_args = ", ".join(
        f"'{kind}', sum_{kind}, n_{kind}" for kind in kinds
    )
    lo, hi = controls.iotth
    return wide.selectExpr(
        "image_id",
        "tth_idx",
        f"stack({len(kinds)}, {stack_args}) as (kind, sum_val, n_px)",
    ).select(
        "image_id",
        "kind",
        "tth_idx",
        tth_bin_center("tth_idx", lo, hi, controls.out_channels).alias("tth"),
        (
            F.coalesce(F.col("sum_val"), F.lit(0.0))
            / F.greatest(F.col("n_px"), F.lit(1))
        ).alias("intensity"),
    )


def integrate_and_spottiness(
    px: DataFrame,
    mask_flags: DataFrame,
    controls: ImageControls,
    sparse_hint=None,
) -> DataFrame:
    """A1 x4 + A15 in ONE pixel-table pass (joint-key fusion, round 13).

    ``integrate_all`` and ``spottiness_per_qbin`` have the same input
    shape — scan the dense pixel table, left-join the sparse flag table,
    aggregate per image over a bin column — differing only in the bin key
    (tth_idx vs qbin) and the aggregates. Run separately they scan + probe
    the 66 M-row cache twice; the round-9 named-stage profile showed
    out:spottiness costing as much as a barrier build (176-548 core-s per
    warm 8 x 2880^2 batch). Rounds 9-12 fused them with GROUPING SETS
    ((image_id, tth_idx), (image_id, qbin)); round 13 replaced that with
    ONE joint aggregation on (image_id, tth_idx, qbin): the Expand
    doubled the 66 M-row stream and every copy carried all 10 aggregate
    buffers (~20 agg-updates per source row), where the joint key needs
    10 — and since qbin is a monotone FUNCTION of tth_idx (both derive
    from 2theta), the joint frame has only ~tth_bins + qbins live cells
    per image, not their product (correctness does not depend on the
    dependence; a worst-case independent pair is still bins x bins =
    tiny). Measured on the isolated agg at 8 x 2880^2: 49.3 -> 31.6 run
    core-s median, cpu 46.6 -> 29.0 (scripts/ab_intspot_r13.py, 4
    alternating reps).

    Returns the joint agg frame (image_id, tth_idx, qbin, per-kind
    sums/counts, n_total, n_masked); split it with ``split_integrals`` /
    ``split_spottiness``, which re-aggregate the margins (a ~21k-row
    input — negligible). Callers should barrier the joint frame so the
    two derived outputs don't each re-run the scan (run_image_plan
    already does).

    Spottiness parity note: A15 counts om membership; the flag table's
    pixel set equals the om set by construction (labeled pixels ⊆ om via
    an inner join on the dense grid; azimuth_swap_classify's left join +
    groupBy preserves every labeled pixel), so ``is_om`` here is the same
    predicate spottiness_per_qbin joins from om_pixels."""
    value = F.col("intensity") / F.col("pol") * F.pow(F.col("dist_sq"), 1.5)
    kinds = {
        "base": F.col("base_mask"),
        "om": F.col("base_mask") | F.col("is_om"),
        "spotsmasked": F.col("base_mask") | F.col("is_spot_px"),
        "arcsmasked": F.col("base_mask") | F.col("is_arc_px"),
    }
    # the flag columns attach to the dense rows on ONE packed long (see
    # _pk_expr): both sides carry img_idx
    mask_flags = mask_flags.select(
        _pk_expr().alias("_pk"), "is_om", "is_spot_px", "is_arc_px"
    )
    if sparse_hint is not None:
        mask_flags = sparse_hint(mask_flags)
    flagged = (
        px.withColumn("_pk", _pk_expr())
        .join(mask_flags, "_pk", "left")
        .drop("_pk")
        .fillna({"is_om": False, "is_spot_px": False, "is_arc_px": False})
        .withColumn("_v", value)
    )
    aggs = []
    for kind, mask in kinds.items():
        aggs.append(F.sum(F.when(~mask, F.col("_v"))).alias(f"sum_{kind}"))
        aggs.append(F.count(F.when(~mask, F.lit(1))).alias(f"n_{kind}"))
    aggs.append(F.count(F.lit(1)).alias("n_total"))
    aggs.append(F.sum(F.col("is_om").cast("int")).alias("n_masked"))
    return flagged.groupBy("image_id", "tth_idx", "qbin").agg(*aggs)


def split_integrals(fused: DataFrame, controls: ImageControls) -> DataFrame:
    """(image_id, kind, tth_idx, tth, intensity) from the joint agg frame
    — same output as ``integrate_all`` (bin-0 rows are aggregated then
    dropped here; they never contribute to a kept bin either way). The
    tth margin re-aggregates the barriered ~21k-row joint frame — one
    tiny exchange, never the pixel scan."""
    kinds = ("base", "om", "spotsmasked", "arcsmasked")
    margin = (
        fused.where(F.col("tth_idx") > 0)
        .groupBy("image_id", "tth_idx")
        .agg(
            *[F.sum(f"sum_{k}").alias(f"sum_{k}") for k in kinds],
            *[F.sum(f"n_{k}").alias(f"n_{k}") for k in kinds],
        )
    )
    stack_args = ", ".join(f"'{kind}', sum_{kind}, n_{kind}" for kind in kinds)
    lo, hi = controls.iotth
    return margin.selectExpr(
        "image_id",
        "tth_idx",
        f"stack({len(kinds)}, {stack_args}) as (kind, sum_val, n_px)",
    ).select(
        "image_id",
        "kind",
        "tth_idx",
        tth_bin_center("tth_idx", lo, hi, controls.out_channels).alias("tth"),
        (
            F.coalesce(F.col("sum_val"), F.lit(0.0))
            / F.greatest(F.col("n_px"), F.lit(1))
        ).alias("intensity"),
    )


def split_spottiness(fused: DataFrame) -> DataFrame:
    """(image_id, qbin, n_total, n_masked, frac_masked) from the joint agg
    frame — same output as ``spottiness_per_qbin`` (qbin margin)."""
    return (
        fused.where(F.col("qbin") >= 0)
        .groupBy("image_id", "qbin")
        .agg(
            F.sum("n_total").alias("n_total"),
            F.sum("n_masked").cast("long").alias("n_masked"),
        )
        .select(
            "image_id",
            "qbin",
            "n_total",
            "n_masked",
            (F.col("n_masked") / F.col("n_total")).alias("frac_masked"),
        )
    )


def spot_stats(
    lpx: DataFrame, label_table: DataFrame, px: DataFrame,
    sparse_hint=None,
) -> DataFrame:
    """A17: per-spot-label stats table (spottiness.py:30-46):
    (image_id, spot_stat_label, area, medianQ, Qbin, intensity_sum,
    intensity_max, intensity_mean, on_arc)."""
    if sparse_hint is not None:
        lpx = sparse_hint(lpx)
    if "intensity" in lpx.columns and "qbin" in lpx.columns:
        enriched = lpx  # classify_clusters carries intensity/qbin already
    else:
        enriched = lpx.join(
            px.select("image_id", "y", "x", "intensity", "qbin"),
            ["image_id", "y", "x"],
        )
    enriched = enriched.join(
        F.broadcast(label_table.select("image_id", "label", "classifier")),
        ["image_id", "label"],
    )
    return enriched.groupBy("image_id", F.col("label").alias("spot_stat_label")).agg(
        F.count("*").alias("area"),
        F.median("q").alias("medianQ"),
        F.median("qbin").cast("int").alias("Qbin"),
        F.sum("intensity").alias("intensity_sum"),
        F.max("intensity").alias("intensity_max"),
        F.avg("intensity").alias("intensity_mean"),
        F.max((F.col("classifier") == 2).cast("int")).alias("on_arc"),
    )


def spottiness_per_qbin(
    px: DataFrame, om_pixels: DataFrame, sparse_hint=None
) -> DataFrame:
    """A15/A16: per-Qbin fraction masked + distinct labels
    (spottiness.py:16-27)."""
    om_flagged = om_pixels.withColumn("is_om", F.lit(True))
    if sparse_hint is not None:
        om_flagged = sparse_hint(om_flagged)
    flagged = px.join(
        om_flagged,
        ["image_id", "y", "x"],
        "left",
    ).fillna({"is_om": False})
    return flagged.where(F.col("qbin") >= 0).groupBy("image_id", "qbin").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("is_om").cast("int")).alias("n_masked"),
        (F.sum(F.col("is_om").cast("int")) / F.count("*")).alias("frac_masked"),
    )


def hmax_float32_exact(inten, hval: float) -> bool:
    """float32 exactness gate for the A19 kernel: True when running the
    h-maxima reconstruction in float32 is provably BIT-IDENTICAL to
    float64. The reconstruction is pure lattice min/max plus two
    subtractions, so exactness needs only that every value the kernel
    touches is float32-representable: integer intensities with
    max(img) < 2^24 and a marker floor min(img, 0) - h > -2^24 (the
    raster background is 0, so the effective min is clamped at <= 0; h
    is already integer-truncated per the reference). Detector counts are
    uint16/int32-scale, so real data always passes, halving the scratch
    bandwidth of the plan's measured stall-magnet stage (round-11
    split-arm record: identical h jobs at 181.6 vs 39.0 run core-s
    purely on host memory stall; kernels.h_maxima dtype doc).
    Parity is pinned by tests/test_kernels.py (f32==f64 on the
    planted-spot fixture + random integer rasters up to the gate edge).
    """
    import numpy as np

    if not np.issubdtype(np.asarray(inten).dtype, np.integer):
        return False
    if np.asarray(inten).size == 0:
        return True
    imin = int(inten.min())
    imax = int(inten.max())
    # the marker ceiling matters too: a NEGATIVE h (possible when p99.9
    # is negative — mostly-negative corrected frame with hot pixels)
    # pushes marker = img - h ABOVE the image maximum, so bound both
    # marker extremes, not just the floor (round-12 review)
    return (
        imax < 2**24
        and min(imin, 0) - hval > -(2**24)
        and max(imax, 0) - hval < 2**24
    )


def h_maxima_per_qbin(
    px: DataFrame, spot_px: DataFrame, controls: ImageControls,
    n_images: int | None = None,
) -> DataFrame:
    """A19/M6 (spottiness.py:64-84): count regional h-maxima per Q-bin,
    total and intersected with the spot mask; h = int(5% of the image's
    p99.9 intensity) — the int truncation mirrors spottiness.py:66.

    One applyInPandas kernel pass per image, then a hash aggregation on
    (image_id, qbin). ``h`` is computed IN-KERNEL with ``np.percentile``
    over the image's own pixel values — exactly what the reference does
    (spottiness.py:65, ``np.percentile(image, 99.9)``), and it removes the
    whole-table ``percentile`` aggregation scan + broadcast join the
    previous formulation paid (the pixel table is dense, so the shipped
    rows ARE the image).

    Shuffle economics mirror the band-gradient feed (gradient_stage.py):
    rows ship as ONE packed int64 — (y*8192 + x) << 32 | (intensity +
    2^31) — plus the qbin, instead of (y, x, intensity, qbin): 3 row
    fields instead of 5. Detectors wider than 8191 px fall back to the
    unpacked layout. With ``n_images`` known, the group shuffle is pinned
    to an explicit 4x-over-provisioned partition count so hash collisions
    don't stack two whole-image kernels on one task (same rationale as
    ``_balanced_group_partitions``).

    kernels.h_maxima runs the Vincent'93 hybrid reconstruction (raster +
    anti-raster sweeps + vectorized worklist) with all image-sized float64
    temporaries in the per-process scratch pool — a few seconds per 2880^2
    frame, so this stage is viable at the full-resolution config.

    qbin is a pure function of (y, x), so it does not ride the dense
    per-pixel shuffle + Arrow transfer into the kernel: the sparse maxima
    rows get it re-attached JVM-side by ``with_calib_columns``, the same
    expressions that give px its qbin (bit-identical). That keeps the
    kernel feed to the packed int64 alone, one third fewer shuffled bytes
    and one fewer Arrow column than (packed int64, qbin int) for a stage
    whose tasks are transfer-wait-dominated (profiled run 150-170 core-s
    vs cpu ~38 per warm keep-up batch)."""
    import numpy as np
    from xrddatapipeline_spark.operators import kernels

    h, w = controls.size_y, controls.size_x
    # packed feed requires an intensity column whose VALUES fit int32 —
    # the int64 pack casts to long (doubles would silently truncate,
    # round-12 review) and stores intensity + 2^31 in the 32-bit low
    # field, so a bigint >= 2^31 would carry into the yx bits and one
    # < -2^31 would go negative and be dropped as the sentinel (round-12
    # ADVICE). tinyint/smallint/int are safe by construction; bigint
    # takes the unpacked layout, which is exact and route-consistent
    # (the dtype gates read the source column type either way).
    packed = (
        h <= 8192 and w <= 8192
        and dict(px.dtypes).get("intensity") in
        ("tinyint", "smallint", "int")
    )
    if packed:
        src = px.select(
            "image_id",
            (
                F.shiftleft(F.col("y").cast("long") * 8192 + F.col("x"), 32)
                + (F.col("intensity").cast("long") + F.lit(2**31))
            ).alias("p"),
        )
    else:
        src = px.select("image_id", "y", "x", "intensity")
    # n_images may legitimately be 0 (empty batch):
    # repartition(0) is an error, and there is nothing to balance anyway
    if n_images and 0 < 4 * n_images <= 4096:
        src = src.repartition(4 * n_images, "image_id")

    # Round 15 (guide §4.2): the kernel consumes the group as a pyarrow
    # Table (applyInArrow) instead of a pandas DataFrame. The grouped
    # pandas path pays table.to_pandas() on 8.3 M rows per image — the
    # string image_id column alone converts at 0.4-0.9 s/group (measured,
    # pyarrow 16 / pandas 2.2; spikes to 4 s under allocator pressure),
    # pure conversion the kernel never needed: numpy reads the int
    # columns zero-copy off the Arrow buffers and the image_id is one
    # scalar per group. Identical kernel arrays in, identical values out
    # — the oracle hashes and the r13/r14 parity tests pin it.
    def _maxima(tbl: "pa.Table") -> "pa.Table":
        import pyarrow as pa

        iid = tbl["image_id"][0].as_py()
        if packed:
            v = tbl["p"].to_numpy()
            inten = (v & 0xFFFFFFFF) - 2**31
            yx = v >> 32
            ys = yx // 8192
            xs = yx - ys * 8192
        else:
            ys = tbl["y"].to_numpy()
            xs = tbl["x"].to_numpy()
            inten = tbl["intensity"].to_numpy()
        # reference truncates to int (spottiness.py:66:
        # h = int(0.05*np.percentile(image,99.9))) — match it exactly so
        # maxima with residual in [int(h), h) are counted identically
        hval = float(int(0.05 * float(np.percentile(inten, 99.9))))
        use32 = hmax_float32_exact(inten, hval)
        img = kernels.scratch(
            (h, w), "hmax_img", dtype=np.float32 if use32 else np.float64
        )
        img[:] = 0.0
        img[ys, xs] = inten
        is_max = kernels.h_maxima(img, hval)
        sel = is_max[ys, xs]
        n = int(sel.sum())
        return pa.table({
            "image_id": pa.array([iid] * n, type=pa.string()),
            "y": pa.array(ys[sel].astype("int32")),
            "x": pa.array(xs[sel].astype("int32")),
        })

    maxima = src.groupBy("image_id").applyInArrow(
        _maxima, "image_id string, y int, x int"
    )
    maxima = with_calib_columns(maxima, controls).select(
        "image_id", "y", "x", "qbin"
    )
    flagged = maxima.join(
        spot_px.withColumn("is_spot_px", F.lit(True)),
        ["image_id", "y", "x"],
        "left",
    ).fillna({"is_spot_px": False})
    return flagged.where(F.col("qbin") >= 0).groupBy("image_id", "qbin").agg(
        F.count("*").alias("n_maxima"),
        F.sum(F.col("is_spot_px").cast("int")).alias("n_spot_maxima"),
    )


def cosine_similarity_series(pixels: DataFrame) -> DataFrame:
    """J4/W1/A20: per image, cosine similarity vs previous seq and vs first
    seq in its dataset (pipeline.py:506-557). Window-over-Delta
    reformulation — tolerant to out-of-order arrival, unlike the
    reference's filename pairing (SURVEY §7 'Ordering-dependent').

    Shuffle-width economics (round 7): the window exchange ships every
    pixel row, so strings hurt — image_id (~20 B/row over 66 M rows at
    8 x 2880^2) never participates in the math and is functionally
    dependent on (dataset, seq), so it is re-attached AFTER the per-image
    aggregation via a broadcast of the tiny distinct (dataset, seq,
    image_id) map; (y, x) pack collision-free into one long
    ((y << 32) | x — no detector-width assumption), and intensity ships
    as its int32 self (the double cast happens post-shuffle). Same math,
    same window, ~35% narrower rows on the dominant exchange.

    Window-sort economics (round 15): the window's sort order starts with
    its partition columns IN THE GIVEN ORDER, and the external sorter
    compares 8-byte prefixes of the FIRST column before falling back to
    full row comparisons — so partitionBy("dataset", "yx") made every one
    of the n·log n comparisons fall through a constant string prefix to
    the row comparator. partitionBy("yx", "dataset") (same partition SET,
    same hash distribution modulo column order, identical window groups)
    puts the near-unique packed long first: prefix comparisons resolve
    all but the ~n_images-row per-pixel groups. Additionally, when seq
    and intensity are integer-typed (the keep-up frame; detector data),
    they ship as ONE long k = (seq << 32) | (intensity + 2^31): within a
    (yx, dataset) group seq is unique, so ordering by k IS ordering by
    seq (k is monotone in seq for any low 32 bits), lag/first over k
    carry the intensity bits along, and the post-window extraction
    (k & 0xFFFFFFFF) - 2^31 is exact int32 — one 8-byte column replaces
    two 4-byte columns in every shuffled row AND removes seq from the
    sort payload. NULL intensities cannot take this path (a NULL k would
    re-order the window), so it is gated on non-nullable integer columns;
    the fallback is the r7 layout plus the partition-order fix. Parity:
    tests/test_r15_parity.py pins packed == unpacked bit-exactly."""
    ids = pixels.select("dataset", "seq", "image_id").distinct()
    yx = (
        F.shiftleft(F.col("y").cast("long"), 32)
        + F.col("x").cast("long")
    ).alias("yx")
    fields = {f.name: f for f in pixels.schema.fields}
    _int_types = ("tinyint", "smallint", "int")
    packed = (
        fields["seq"].dataType.simpleString() in _int_types
        and fields["intensity"].dataType.simpleString() in _int_types
        and not fields["seq"].nullable
        and not fields["intensity"].nullable
    )
    if packed:
        k = (
            F.shiftleft(F.col("seq").cast("long"), 32)
            + (F.col("intensity").cast("long") + F.lit(2 ** 31))
        ).alias("k")
        src = pixels.select("dataset", yx, k)
        w = Window.partitionBy("yx", "dataset").orderBy("k")

        def _unpack(c: F.Column) -> F.Column:
            # exact source-typed value back out of the low 32 bits
            return (
                c.bitwiseAND(F.lit(0xFFFFFFFF)) - F.lit(2 ** 31)
            ).cast(fields["intensity"].dataType)

        paired = src.select(
            "dataset",
            F.shiftright(F.col("k"), 32)
            .cast(fields["seq"].dataType).alias("seq"),
            _unpack(F.col("k")).alias("intensity"),
            _unpack(
                F.coalesce(F.lag("k").over(w), F.col("k"))
            ).alias("v_prev"),
            _unpack(F.first("k").over(w)).alias("v_first"),
        )
    else:
        src = pixels.select("dataset", "seq", yx, "intensity")
        w = Window.partitionBy("yx", "dataset").orderBy("seq")
        # all three series stay int32 THROUGH the window: a pre-window
        # ``intensity.cast("double")`` projection gets planned BELOW the
        # exchange, so the shuffle would ship the double AND the int
        # (+8 B/row on the dominant exchange — caught by the round-8 plan
        # test). int32 -> double is exact, so casting inside the dot
        # products instead is bit-identical.
        paired = src.select(
            "dataset",
            "seq",
            "intensity",  # NOT re-aliased: an alias projects a duplicate
            # attribute below the exchange, widening every shuffled row
            F.coalesce(F.lag("intensity").over(w), F.col("intensity"))
            .alias("v_prev"),
            F.first("intensity").over(w).alias("v_first"),
        )
    dot = lambda a, b: F.sum(  # noqa: E731
        F.col(a).cast("double") * F.col(b).cast("double")
    )

    # NULL for a zero-norm frame (blank detector image): ANSI mode
    # (Spark 4 default) raises DIVIDE_BY_ZERO even on double division
    # (round 13); the reference's numpy divide reads nan there, and a
    # NULL csim row is the relational analog — the series survives.
    def _csim(other: str) -> F.Column:
        denom = F.sqrt(dot("intensity", "intensity") * dot(other, other))
        return F.when(denom > 0, dot("intensity", other) / denom)

    sims = paired.groupBy("dataset", "seq").agg(
        _csim("v_first").alias("csim_first"),
        _csim("v_prev").alias("csim_prev"),
    )
    return sims.join(F.broadcast(ids), ["dataset", "seq"]).select(
        "dataset", "seq", "image_id", "csim_first", "csim_prev"
    )


@dataclass
class ImagePlanResult:
    pixels: DataFrame
    outliers: DataFrame
    om_pixels: DataFrame
    labeled_pixels: DataFrame
    label_table: DataFrame
    integrals: DataFrame
    spot_stats: DataFrame
    spottiness: DataFrame
    # A19/M6 per-Qbin regional h-maxima counts (the reference computes
    # these inside the spottiness stage, spottiness.py:64-84). Lazy — not
    # a barrier frame.
    h_maxima: DataFrame
    gradient: "object | None" = None  # GradientStageResult when enabled
    # the fused A1+A15 joint agg frame (barriered; integrals and
    # spottiness are margin re-aggregations of it)
    fused_bins: "DataFrame | None" = None
    # stage counters (A22 analog of the reference's per-stage printouts,
    # pipeline_queue.py:1007-1014): populated when run_image_plan gets
    # observe=True; each Observation.get blocks until an action has run
    # over the observed frame, then yields its named metrics for free —
    # no extra job per counter.
    observations: dict[str, Observation] = field(default_factory=dict)
    # every frame a plan barrier materialized, the gradient stage's
    # included; outliers and om_pixels are projections of two of them
    barriers: list = field(default_factory=list)

    def unpersist_all(self) -> None:
        """Drop every frame the plan persisted (call after the batch's
        outputs are written — the streaming sink does this per batch)."""
        for df in self.barriers:
            _release(df)


def run_image_plan(
    pixels: DataFrame,
    controls: ImageControls,
    gradient_stage: bool = False,
    observe: bool = False,
    barrier: str = "local_checkpoint",
    corrections: dict | None = None,
    image_ids: list | None = None,
    on_output: Callable[[str, DataFrame], Future | None] | None = None,
) -> ImagePlanResult:
    """Full per-image plan (pipeline.py:78-504 equivalent).

    Plan construction is EAGER: five intermediates materialize as Spark
    jobs before this function returns.

    Calibration is closed-form: the plan appends ``with_calib_columns``
    to the pixel rows, so every per-pixel map of the reference's
    ``CacheCreator`` is a codegen'd expression, never a join. A broadcast
    calib table does not scale to 8.3 Mpx, and at 512² computing beats
    joining too: the stream's px barrier fell from 3.2 to 0.9 run core-s
    per batch when it stopped joining one (medians of 3 traced pairs,
    CHANGES.md). Tests pin the plan's columns to ``build_calib_pixels``
    joined on (y, x).

    The batch's sorted image set keys the plan: the px barrier carries
    each row's ``img_idx`` (its position in the set), and the dense joins
    and groupings build packed longs from it (see ``_pk_expr``).
    ``image_ids`` passes that set when the caller already has it (the
    stream reads it off its decode checkpoint's observed metric); ``None``
    collects it from ``pixels`` in one job. The pack needs both detector
    sides <= 8192; a larger detector raises ``ValueError`` before any job.

    ``on_output(name, frame)`` is called for each shipped output as soon
    as the barriers it reads exist, so a caller's writes overlap the rest
    of the plan: ``outliers`` after the outlier barrier, ``spot_stats``
    after ``label_table``, ``h_maxima`` after ``label_table`` (after the
    gradient stage when that runs), then ``integrals``, ``spottiness`` and
    ``gradient_arcs`` (with the gradient stage) at the end. The frames are
    the ones the result carries. If a barrier job raises, the plan waits
    for every ``Future`` that ``on_output`` returned, then releases the
    barriers it built, then re-raises.

    ``corrections`` (optional) is a kwargs dict for
    ``operators.corrections.apply_correction_images`` (dark / background /
    gain / flat_bkg, P7 chain) applied to the raw pixels before masking
    and integration, as the reference does in _getCorrImage
    (GSASII_imports.py:660-735).

    ``gradient_stage=True`` adds the §2.9 gradient classification
    (plans.gradient_stage): the spot/arc pixel sets fed to the integrals
    become the refined new_spot/new_arc flags (classification.py:587-606).

    ``barrier`` picks the reuse boundary for the five shared intermediates.
    "local_checkpoint" (the default, and what the stream and the 512²
    bench run) checkpoints each one eagerly, which truncates lineage at
    the plan's reuse boundaries. "hybrid" (the keep-up bench's choice)
    keeps the two DENSE frames (pixel table, gradient raster) as eager
    COLUMNAR caches — pruned compressed re-scans for their 4-6 consumers
    — and checkpoints only the sparse frames. Any other value raises
    ``ValueError`` before any job.

    The plan is deep, and classic Spark re-analyzes the whole upstream
    plan on every transformation AND per output job: a driver-side cost
    independent of pixel count (~30 s per batch without truncation).
    Checkpointed barriers make every downstream plan shallow. A lazy
    ``persist`` barrier that kept full lineage lost every recorded A/B
    and was deleted:

    - 512², r8, min of 3 interleaved: 4.55 s against 3.89 s for
      local_checkpoint (hybrid 4.31; STATUS.md);
    - 512², r14, min of 5 alternating: 3.91 s against 3.55 s (hybrid
      3.90; OPTIMIZATION_r14.md §10);
    - warm 1 Mpx per image on local[32]: 40-48 s against 9-11 s;
    - 8-image 8.3 Mpx batches: 15.9 s/img against 12.7-14.5 s/img (a
      single 8.3 Mpx image was about par, 22-39 s against 26-28 s).

    Executor loss under a checkpoint costs the whole image, and that
    lineage bought nothing: foreachBatch retries a failed batch as a
    whole, so lost checkpoint lineage is covered one level up."""
    check_plan_args(controls, barrier)
    shape = (controls.size_y, controls.size_x)
    if corrections:
        from xrddatapipeline_spark.operators.corrections import (
            apply_correction_images,
        )

        pixels = apply_correction_images(pixels, **corrections)

    if shape[0] * shape[1] >= 4_000_000:
        # pre-fault the kernel scratch sets across the python worker pool
        # CONCURRENTLY with the px cache build (JVM-heavy, pythons idle):
        # first-touch page faults were the cold-call cost of the kernel
        # stages (10-20x the numpy time under full concurrency) — the
        # h-maxima set (~105 MB float32 at full image height;
        # steady-state footprint unchanged — see warmup_hmax_scratch,
        # which warms the float32 planes the integer-intensity exactness
        # gate always selects on detector data) and, with the gradient
        # stage, the band-gradient set (~120 MB at band height).
        # Fire-and-forget — a failed warmup only loses the overlap.
        #
        # ONE warmup job per (session, shape, component) — python workers
        # persist across batches within a session, so the kernel-side
        # memsets are idempotent no-ops from batch 2 on (WARMUP_MEMSET_
        # EVENTS pins that), yet the JOB still occupied 96 task slots per
        # batch for worker round-trips (profiled at ~240 core-s of pure
        # wait on a contended host). Skip resubmitting driver-side. On a
        # real cluster a replaced executor starts cold and pays the
        # first-touch on its first kernel call — acceptable for a
        # best-effort overlap optimization.
        import threading

        from xrddatapipeline_spark.plans.gradient_stage import _GRAD_HALO

        _spark = pixels.sparkSession
        _wshape = (
            min(controls.size_y, 512 + 2 * _GRAD_HALO), controls.size_x
        )
        # warmed COMPONENTS are tracked per (session, shape): only the
        # MISSING ones get a job (see _warmup_missing)
        _warm_base = (
            _spark.sparkContext.applicationId, _wshape, shape,
        )
        # check+claim under the lock (see _WARMUP_LOCK doc): the claim
        # happens here, not at thread start, so a concurrent plan call
        # sees the components as already submitted
        with _WARMUP_LOCK:
            _missing = _warmup_missing(
                _warm_base, gradient_stage, _WARMUP_SUBMITTED
            )
            _WARMUP_SUBMITTED.update((_warm_base, p) for p in _missing)

        def _warm() -> None:
            try:
                import pandas as _pd

                # own job group: the warmup job completes during whatever
                # batch happens to be running (it's fire-and-forget), so
                # profilers that attribute stages by completion window can
                # exclude it by group instead of mis-charging the batch
                _spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", "kernel-warmup"
                )
                n = _spark.sparkContext.defaultParallelism * 3

                def _wf(it):
                    from xrddatapipeline_spark.operators import kernels as _K

                    touched = 0
                    if "bands" in _missing:
                        touched += _K.warmup_band_scratch(_wshape)
                    if "hmax" in _missing:
                        touched += _K.warmup_hmax_scratch(shape)
                    for _ in it:
                        pass
                    yield _pd.DataFrame({"n": [touched]})

                _spark.range(n).repartition(n).mapInPandas(
                    _wf, "n long"
                ).collect()
            except Exception:  # noqa: BLE001 — warmup is best-effort
                pass

        if _missing:
            threading.Thread(
                target=_warm, daemon=True, name="kernel-warmup"
            ).start()

    # the batch's sorted image set: img_idx rides on the px barrier, so the
    # three dense stages build their packed keys arithmetically (see
    # _pk_expr) and the kernel feeds know the image count
    ids = _image_set(pixels) if image_ids is None else sorted(image_ids)
    barriers: list[DataFrame] = []
    started: list = []

    def emit(name: str, df: DataFrame) -> None:
        if on_output is not None:
            started.append(on_output(name, df))

    try:
        return _plan(
            pixels, controls, ids, emit, barriers,
            gradient_stage=gradient_stage, observe=observe, barrier=barrier,
        )
    except BaseException:
        # a barrier job raised part-way: the outputs already handed out
        # read the barriers built so far, so settle them before releasing
        wait([f for f in started if f is not None])
        for df in barriers:
            _release(df)
        raise


def _plan(
    pixels: DataFrame,
    controls: ImageControls,
    ids: list,
    emit: Callable[[str, DataFrame], None],
    barriers: list,
    *,
    gradient_stage: bool,
    observe: bool,
    barrier: str,
) -> ImagePlanResult:
    """``run_image_plan``'s stages over the sorted image set ``ids``: each
    materialized frame is appended to ``barriers`` as it is built, and
    each shipped output goes to ``emit(name, frame)`` once its inputs are
    barriered."""
    shape = (controls.size_y, controls.size_x)

    def _bar(df: DataFrame, dense: bool = False, label: str = "") -> DataFrame:
        # name the barrier's stages in the Spark UI / REST profile: the
        # round-7/8 profiles showed three big "localCheckpoint at
        # <unknown>" stages that could not be attributed to a frame.
        # callSite.short is a thread-local property the scheduler copies
        # into the stage name of jobs submitted while it is set.
        sc = df.sparkSession.sparkContext
        if label:
            sc.setLocalProperty("callSite.short", f"barrier:{label}")
        known = _persistent_rdd_ids(sc)
        try:
            df = _bar_inner(df, dense)
        except BaseException:
            # a barrier job that raised returns no frame to release, yet
            # its checkpoint storage is already registered
            _release_new_rdds(sc, known, f"barrier:{label}")
            raise
        finally:
            if label:
                sc.setLocalProperty("callSite.short", None)
        barriers.append(df)
        return df

    def _bar_inner(df: DataFrame, dense: bool = False) -> DataFrame:
        from pyspark.storagelevel import StorageLevel

        if barrier == "hybrid" and dense:
            # DENSE frames (the calibrated pixel table, the gradient
            # raster) are re-scanned by 4-6 consumers: a row-format
            # checkpoint deserializes every 15-column row per scan
            # (profiled ~30 s CPU/task at 8 x 2880^2 just to feed a
            # 3-column agg). Columnar cache + eager count gives pruned,
            # compressed re-scans AND accurate stats for AQE — the count
            # also closes the lazy-persist race that double-ran the
            # gradient kernel. The frame's own lineage is shallow (scan +
            # calib projections), so skipping the checkpoint costs little
            # driver re-analysis.
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                df.count()
            except BaseException:
                df.unpersist()
                raise
            return df
        # SPARSE frames: serialized-row checkpoint — truncates the deep
        # lineage tail (ring stats, raster kernels) out of every
        # downstream plan analysis. serialized rows: the default
        # deserialized level OOMs a 16 GB heap at 8 x 8.3 Mpx
        # (object-graph overhead).
        return df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )

    obs: dict[str, Observation] = {}

    def _obs(df: DataFrame, name: str, *metrics) -> DataFrame:
        # free-riding stage counters (reference's per-stage printouts,
        # pipeline_queue.py:1007-1014): computed by the action that
        # materializes the frame anyway — never an extra job.
        if not observe:
            return df
        o = Observation(name)
        obs[name] = o
        return df.observe(o, *metrics)

    # px (the dense calibrated pixel table) feeds five outputs; without a
    # barrier every output re-executes the decode and calibration
    # expressions. ~8.3 M rows x ~13 columns per image — a deliberate
    # per-batch cache, dropped by the caller (streaming does this per
    # foreachBatch).
    # columns no plan stage reads after base-mask folding are dropped
    # BEFORE the barrier: tth is recomputed closed-form from tth_idx at
    # output time, azim_mask is folded into base_mask, azim_band is a
    # registry-query column — ~15% less cache-build and re-scan work.
    # dataset/seq likewise (round 9): no consumer of the barriered px
    # reads them — csim takes the RAW pixel frame, the streaming pixel
    # store writes the raw batch, and image_id remains the per-image key
    # — so the cache build skips a per-row string copy and an int column.
    # q/azim leave too: their only consumer, the lpx probe, recomputes
    # them on the sparse rows (labeled_pixels_frame(controls=...)) — two
    # double columns (~1 GB at 8 x 2880^2) off the build/store/re-scan path.
    drop_cols = [
        "tth", "azim_band", "azim_mask", "dataset", "seq", "q", "azim",
    ]
    masked = with_base_mask(
        with_calib_columns(pixels, controls), controls=controls
    )
    # Predef RASTER mask (the reference's .tif mask branch,
    # cache_creation.py:239-246): a driver-side boolean array in
    # controls.extra["predef_mask"] joins in as a broadcast sparse
    # (y, x) set — masked pixels are a tiny fraction of the detector
    # (the tutorial's insitu mask covers 1.8%), so the build side stays
    # broadcast-sized; the dense pixel table never shuffles.
    predef = (controls.extra or {}).get("predef_mask")
    if predef is not None:
        import numpy as _np
        import pandas as _pd

        ys, xs = _np.nonzero(_np.asarray(predef, dtype=bool))
        pmask = pixels.sparkSession.createDataFrame(
            _pd.DataFrame(
                {"y": ys.astype("int32"), "x": xs.astype("int32"),
                 "is_predef": True}
            ),
            schema="y int, x int, is_predef boolean",
        )
        masked = (
            masked.join(F.broadcast(pmask), ["y", "x"], "left")
            .withColumn(
                "base_mask",
                F.col("base_mask") | F.coalesce("is_predef", F.lit(False)),
            )
            .drop("is_predef")
        )
    px = _bar(_obs(
        with_img_idx(masked.drop(*drop_cols), ids),
        "corrections",
        F.count(F.lit(1)).alias("n_px"),
        F.count_if(F.col("base_mask")).alias("n_base_masked"),
    ), dense=True, label="px")
    # The sparse intermediates (outlier/om/labeled pixel sets, label table)
    # feed several downstream outputs; barrier them so the expensive
    # upstream (ring stats + raster kernels) runs once, not once per output.
    # They are ~1e4-1e5 rows per image — cheap to cache at any scale.
    # the outlier row count is observed on the barrier's own job whether
    # or not observe is on: the broadcast gate below reads it, and with
    # observe=True it is also the outlier_mask stage counter
    n_outliers = Observation("outlier_mask")
    outliers = _bar(
        outlier_pixels(px, esd_mul=controls.esd_mul).observe(
            n_outliers, F.count(F.lit(1)).alias("n_outlier_px")
        ),
        label="outliers",
    )
    if observe:
        obs["outlier_mask"] = n_outliers
    outlier_rows = outliers.drop("img_idx")
    emit("outliers", outlier_rows)
    # Join-strategy hint for the sparse⋈dense joins downstream (mask sets
    # against the pixel raster). Under the checkpoint barrier the sparse
    # frames are LogicalRDDs with UNKNOWN stats, so AQE falls back to a
    # sort-merge join that shuffles the DENSE pixel side (measured 1.2-2 GB
    # shuffle writes per join at 8 x 2880^2); an explicit broadcast hint on
    # the sparse side removes every one of those exchanges. Gated on the
    # OUTLIER row count the barrier job observed (no job of its own; the
    # 3x3 closing only grows the set by gap fill, far inside the
    # threshold's safety margin) so a pathologically dense mask falls back
    # to SMJ instead of broadcasting an oversized set.
    sb = (
        F.broadcast
        if n_outliers.get["n_outlier_px"] <= _SPARSE_BROADCAST_ROWS
        else None
    )
    # split construction (round 8): materialize the lpx barrier FIRST,
    # then build label_table FROM the barrier — the tuple form re-ran
    # the labeling kernel + the 66M-row px join inside the label_table
    # checkpoint job (one of the three big localCheckpoint stages in the
    # round-7 warm profile).
    # M2+M1 fusion (round 14, closing_radius=1): the closing runs INSIDE
    # the labeling kernel, so the separate om barrier (a whole eager
    # checkpoint job + a second applyInPandas pass + its image_id
    # exchange) is gone; the closed mask is the (image_id, y, x)
    # projection of the lpx barrier (every closed pixel is labeled).
    lpx = _bar(_obs(
        labeled_pixels_frame(
            px, outliers, shape, sparse_hint=sb,
            # the probe reads only intensity off the dense barrier; the
            # geometry is recomputed on the sparse rows, bit-identical
            controls=controls,
            closing_radius=1,
        ),
        "binary_closing",
        F.count(F.lit(1)).alias("n_om_px"),
    ), label="lpx")
    om = lpx.select("image_id", "y", "x")
    label_table = _bar(_obs(
        label_table_from(lpx),
        "shape_classification",
        F.count(F.lit(1)).alias("n_clusters"),
        F.count_if(F.col("classifier") == 1).alias("n_spots"),
        F.count_if(F.col("classifier") == 2).alias("n_arcs"),
    ), label="label_table")
    # spot_stats reads only the lpx and label_table barriers: its sink
    # starts now, beside the remaining barriers
    stats = spot_stats(lpx, label_table, px, sparse_hint=sb)
    emit("spot_stats", stats)
    # one sparse flag table covers all three mask variants: the om set IS
    # the labeled pixel set, and spot/arc membership is the classifier (or
    # the gradient stage's refined new_spot/new_arc flags)
    grad = None
    if gradient_stage:
        from xrddatapipeline_spark.plans.gradient_stage import gradient_classify

        # plain (row-checkpoint) barrier even under "hybrid": the gradient
        # raster has only 2 consumers (thresholds kernel, lpx join), so a
        # columnar cache build never pays for itself there — measured
        # 135 s/task vs ~44 s at 8 x 2880^2
        grad = gradient_classify(
            px, lpx, label_table, controls, barrier_fn=_bar, sparse_hint=sb,
            n_images=len(ids),
        )
        mask_flags = grad.pixel_flags.select(
            "image_id", "img_idx", "y", "x",
            F.lit(True).alias("is_om"),
            F.col("new_spot").alias("is_spot_px"),
            F.col("new_arc").alias("is_arc_px"),
        )
    else:
        mask_flags = classifier_mask_flags(lpx, label_table)
    # A19/M6 runs inside the spottiness stage in the reference
    # (spottiness.py:64-84); spot membership comes from the same flag
    # table the integrals consume (gradient-refined when enabled). It
    # reads no later barrier, so its sink (the slowest one) overlaps the
    # intspot barrier.
    hm = _obs(
        h_maxima_per_qbin(
            px,
            mask_flags.where(F.col("is_spot_px")).select("image_id", "y", "x"),
            controls,
            n_images=len(ids),
        ),
        "h_maxima",
        F.count(F.lit(1)).alias("n_hmax_rows"),
    )
    emit("h_maxima", hm)
    # A1 + A15 fused: one pixel-table scan serves both outputs (GROUPING
    # SETS — see integrate_and_spottiness). The fused agg frame is tiny
    # (images x bins), so it takes a barrier; the two derived outputs are
    # then trivial selects instead of two independent 66M-row scan+probe
    # jobs (the round-9 profile priced the separate spottiness job at
    # 176-548 core-s per warm batch).
    fused_bins = _bar(
        integrate_and_spottiness(px, mask_flags, controls, sparse_hint=sb),
        label="intspot",
    )
    integrals = _obs(
        split_integrals(fused_bins, controls),
        "integrations",
        F.count(F.lit(1)).alias("n_integral_rows"),
    )
    spotty = split_spottiness(fused_bins)
    emit("integrals", integrals)
    emit("spottiness", spotty)
    if grad is not None:
        emit("gradient_arcs", grad.on_arc_labels)
    return ImagePlanResult(
        pixels=px,
        outliers=outlier_rows,
        om_pixels=om,
        labeled_pixels=lpx,
        label_table=label_table,
        integrals=integrals,
        spot_stats=stats,
        spottiness=spotty,
        h_maxima=hm,
        gradient=grad,
        fused_bins=fused_bins,
        barriers=barriers,
        observations=obs,
    )
