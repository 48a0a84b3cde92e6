"""Structured-Streaming wrapper for the per-image plan (SURVEY §2.10, §3.1).

Reference semantics mapped to Spark:

- T1 (watchdog directory watch -> queue): a file-source stream over the
  landing directory; micro-batches replace the deque.
- T2 (100 ms poll, one image in flight, cache-on-first-file): trigger
  control; ``maxFilesPerTrigger=1`` reproduces one-image-in-flight, larger
  values batch images — strictly better than the reference's serial loop.
  The ``CacheCreator``'s per-pixel maps are not cached at all: the plan
  computes them closed-form on each batch's pixel rows
  (``calib.cache.with_calib_columns``), cheaper under whole-stage codegen
  than joining a stored table.
- T3 (file-settle guard): Spark's idiom is ATOMIC ARRIVAL — files must be
  written to a temp path and renamed in (every Spark/Parquet writer does
  this), which removes the race the reference's mtime guard papers over.
  An optional belt-and-braces ``settle_seconds`` row filter on
  ``_metadata.file_modification_time`` is provided; note that unlike the
  reference (which re-polls the file later) a filtered row's file has
  already been consumed by the source, so only use it with sources that
  also write atomically.
- T4 (pause/resume/clear-queue/stop, process-existing-only): ``pause()``
  stops the query but keeps the checkpoint; ``resume()`` restarts from it
  (no input is lost or reprocessed — the file-source log is the queue).
  ``clear_queue()`` is the reference UI's "clear queue" button
  (pipeline_queue.py queue.clear()): it snapshots the currently-visible
  landing files into a persisted skip manifest; on resume those files are
  dropped at the source (already-processed files are unaffected — the
  checkpoint never replays them). Backfill = ``Trigger.AvailableNow``
  (drain all currently-visible files, then stop) — exactly "process
  existing images only, auto-stop" (pipeline_queue.py:849-852).
- T5 (csim needs image n-1): reformulated as a join against the pixel
  STORE (partitioned by dataset/seq so the n-1 and first-image reads are
  partition-pruned scans), not a streaming state store. Out-of-order
  arrival degrades gracefully — the window pairs each image with the
  latest earlier seq present — where the reference mis-pairs on gaps
  (pipeline.py:516-523).

Each micro-batch is decoded once: ``process_batch`` turns the batch frame
into one eager local checkpoint before anything else (a TIFF stream would
otherwise re-run its decode for every action), and the plan and the pixel
store read that checkpoint. The store is written on csim's side thread
while the plan's barriers run, since csim is its only reader. The batch's
(dataset, seq, image_id) keys, which the emptiness check, csim's store
lookback and the plan's image set need, are an observed metric of the
checkpoint job. Structured Streaming's ``foreachBatch`` guidance is the
same: materialize a micro-batch once when several writers read it.

Exactly-once: the checkpoint makes the SOURCE exactly-once (each input
file is processed in one batch). The parquet sinks here are append-only,
so a crash mid-batch can duplicate output rows on retry, and a failed
batch can have appended outputs before (or without) its pixel store;
production deployments should point the sinks at a transactional table
format (Delta/Iceberg MERGE on image_id) — the plan itself is unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from xrddatapipeline_spark.barrier import release
from xrddatapipeline_spark.calib.geometry import ImageControls
from xrddatapipeline_spark.plans.image_pipeline import (
    ImagePlanResult,
    check_plan_args,
    cosine_similarity_series,
    run_image_plan,
)
from xrddatapipeline_spark.sources.tiff import PIXEL_SCHEMA


def _observation_get(o, name: str, timeout_s: float = 60.0):
    """``Observation.get`` with a bounded wait.

    ``get`` blocks indefinitely until some action materializes the observed
    frame. All frames the pipeline observes ARE consumed by the batch
    writes, so this normally returns immediately — the timeout converts a
    misconfigured barrier/observe combination (an observed frame nothing
    materialized) from a silent stream hang into a visible warning.
    """
    import time
    import warnings

    deadline = time.monotonic() + timeout_s
    try:
        while time.monotonic() < deadline:
            # non-blocking readiness probe (JVM Observation.getRowOrEmpty)
            if o._jo.getRowOrEmpty().isDefined():
                return o.get
            time.sleep(0.05)
    except Exception:  # noqa: BLE001 — private accessor moved in a PySpark
        # upgrade: fall back to the blocking get (normal path — every
        # observed frame is materialized by the batch writes above)
        return o.get
    warnings.warn(
        f"observation {name!r} not materialized after {timeout_s}s "
        "(observed frame never consumed by an action?) — skipping its "
        "stage counters",
        RuntimeWarning,
        stacklevel=2,
    )
    return None


def read_pixel_stream(
    spark: SparkSession,
    input_dir: str,
    *,
    max_files_per_trigger: int = 1,
    path_glob: str | None = None,
    settle_seconds: float = 0.0,
) -> DataFrame:
    """T1: the landing-directory stream (S9's watchdog analog).

    ``path_glob`` maps the reference's include/exclude filename regex (F10)
    onto the source's ``pathGlobFilter``.
    """
    reader = (
        spark.readStream.format("parquet")
        .schema(PIXEL_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    df = reader.load(input_dir)
    if settle_seconds > 0:
        df = df.where(
            F.col("_metadata.file_modification_time")
            <= F.current_timestamp() - F.expr(f"INTERVAL {settle_seconds} SECONDS")
        )
    return df


@contextmanager
def run_batch(
    pixels: DataFrame,
    controls: ImageControls,
    write: Callable[[DataFrame, str], None],
    csim: Callable[[], DataFrame],
    *,
    gradient_stage: bool = False,
    observe: bool = False,
    barrier: str = "local_checkpoint",
    image_ids: list | None = None,
) -> Iterator[ImagePlanResult]:
    """One micro-batch as shipped: ``with run_batch(...) as res:``

    1. submits ``write(csim(), "csim")`` on a side thread before the plan:
       ``csim()`` builds the frame (the stream's callable first writes the
       pixel store that csim reads), and its window-shuffle job, the
       biggest independent one, overlaps the plan's eager barriers;
    2. calls ``run_image_plan`` with the remaining arguments; its eager
       barriers materialize the plan's intermediates (``barrier`` is
       ``"local_checkpoint"``, the default and the stream's, or
       ``"hybrid"``, the keep-up bench's; see ``run_image_plan``), and
       ``image_ids``, the batch's sorted image set when the caller has
       it, saves the plan its image-set collect;
    3. writes integrals, spot_stats, spottiness, outliers, h_maxima and
       gradient_arcs (if on) on a pool, each submitted as soon as the plan
       hands it out (``on_output``): outliers, spot_stats and h_maxima run
       beside the plan's later barriers, the rest after the last one.
       Each write runs under ``callSite.short = "sink:<name>"``. csim's
       write runs under ``"csim"``: the repo benchmark's ``--trace 1`` run
       rejects the per-layer metric a ``sink:csim`` label would add.

    ``barrier`` and the detector size are checked first
    (``check_plan_args``), so a rejected batch raises before any job or
    write, csim's included. A failed csim write (in the stream, a failed
    pixel-store write) fails the batch early: once csim's future holds an
    error, the next ``on_output`` re-raises it instead of submitting a
    sink, and the with-body does not run. The with-body runs once every
    output is written, while the plan's barriers are still held. On every
    exit path the writes settle before the frames they read are released:
    a plan that raises part-way waits for the sinks it started before
    releasing its barriers, and csim and every sink settle before
    ``unpersist_all``, so a failed batch never leaves an append in flight
    when foreachBatch retries it. A batch whose plan or sink fails can
    still have appended some of its outputs, since the early sinks start
    while the plan runs: the sinks append, the replay gap that ROADMAP
    Direction 2 closes.
    """
    check_plan_args(controls, barrier)
    sc = pixels.sparkSession.sparkContext

    def _sink(df: DataFrame, name: str, label: str) -> None:
        # callSite.short is thread-local and each write has its own thread
        sc.setLocalProperty("callSite.short", label)
        try:
            write(df, name)
        finally:
            sc.setLocalProperty("callSite.short", None)

    csim_pool = ThreadPoolExecutor(max_workers=1)
    csim_fut = csim_pool.submit(lambda: _sink(csim(), "csim", "csim"))
    # one thread per shipped output (six with the gradient stage)
    sink_pool = ThreadPoolExecutor(max_workers=6)
    sinks: list[Future] = []

    def csim_check() -> None:
        # non-blocking: re-raise csim's error once its write has failed
        if csim_fut.done():
            csim_fut.result()

    def on_output(name: str, df: DataFrame) -> Future:
        csim_check()
        f = sink_pool.submit(_sink, df, name, f"sink:{name}")
        sinks.append(f)
        return f

    res = None
    try:
        res = run_image_plan(
            pixels, controls,
            gradient_stage=gradient_stage,
            observe=observe,
            barrier=barrier,
            image_ids=image_ids,
            on_output=on_output,
        )
        for f in sinks:
            f.result()
        csim_check()
        yield res
        csim_fut.result()
    finally:
        sink_pool.shutdown(wait=True)
        csim_pool.shutdown(wait=True)
        if res is not None:
            res.unpersist_all()


@dataclass
class StreamingImagePipeline:
    """foreachBatch driver: per-batch image plan + incremental csim.

    The plan computes calibration from ``controls`` (closed-form, see
    ``run_image_plan``); outputs land under ``out_dir/<table>`` as
    append-only parquet.
    """

    spark: SparkSession
    # unread: kept so the repo benchmark's positional call
    # StreamingImagePipeline(spark, calib, controls, out_dir) still works;
    # dropped at the next benchmark change
    calib: DataFrame | None
    controls: ImageControls
    out_dir: str
    gradient_stage: bool = False
    observe_metrics: bool = False
    # K3 viz parity: also materialize per-image `<id>_base.tif` /
    # `<id>_outliermask.tif` boolean rasters under out_dir/masks
    # (pipeline.py:152-159, 196-216) — off by default (parquet is the
    # source of truth; the TIFFs are for legacy viewers)
    render_masks: bool = False
    # output-table format: None resolves via tables.resolve_table_format
    # (conf spark.xrdspark.tableFormat / env XRDSPARK_TABLE_FORMAT /
    # parquet). "delta" gives ACID appends where delta-spark is installed
    # and falls back to parquet (with a warning) where it isn't.
    table_format: str | None = None
    batches_seen: int = field(default=0, init=False)
    _query: StreamingQuery | None = field(default=None, init=False)
    _start_kwargs: dict = field(default_factory=dict, init=False)

    def _path(self, table: str) -> str:
        return os.path.join(self.out_dir, table)

    # ---- T4 control surface (the reference UI's Pause / Clear Queue) ----

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, "control", "skip_manifest.json")

    def _load_skip_names(self) -> set[str]:
        import json

        try:
            with open(self._manifest_path) as f:
                return set(json.load(f))
        except (FileNotFoundError, ValueError):
            return set()

    def clear_queue(self, input_dir: str, glob: str = "*") -> int:
        """Snapshot currently-visible landing files into the skip manifest
        (the reference's queue.clear()). Files already processed are
        unaffected (the checkpoint never replays them); pending files are
        dropped at the source on the next (re)start. Returns the manifest
        size. Call while paused — a running query applies the manifest it
        loaded at start."""
        import fnmatch
        import json

        names = self._load_skip_names()
        try:
            names.update(
                n for n in os.listdir(input_dir) if fnmatch.fnmatch(n, glob)
            )
        except FileNotFoundError:
            pass
        os.makedirs(os.path.dirname(self._manifest_path), exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(names), f)
        os.replace(tmp, self._manifest_path)
        return len(names)

    def _prune_skip_manifest(self, checkpoint_dir: str) -> None:
        """The manifest only ever grows (clear_queue unions into it), and
        clear_queue snapshots ALL visible landing files — including ones the
        checkpoint already committed, which the file source never replays
        anyway. Prune those on (re)start so a long-lived deployment's
        source-side ``isin`` literal stays bounded by genuinely-pending
        skips instead of the full processing history.

        Only files in COMMITTED batches are pruned. Source logs are written
        at batch-planning time, so after a mid-batch crash the in-flight
        batch's files appear under ``sources/*`` without a matching
        ``commits/<id>`` — those files WILL be replayed on restart, and if
        the operator cleared the queue while stopped, their skip entries
        must survive the prune so the replayed batch's rows are filtered at
        the source (the reference's queue.clear() drops every pending file,
        and a planned-but-uncommitted file is still pending: none of its
        outputs exist)."""
        import glob as _glob
        import json

        names = self._load_skip_names()
        if not names:
            return
        try:
            committed = set(os.listdir(os.path.join(checkpoint_dir, "commits")))
        except OSError:
            committed = set()
        processed: set[str] = set()
        for log in _glob.glob(os.path.join(checkpoint_dir, "sources", "*", "*")):
            if not os.path.isfile(log):
                continue
            try:
                with open(log) as f:
                    for line in f:
                        line = line.strip()
                        if not line.startswith("{"):
                            continue  # version header / offsets
                        try:
                            entry = json.loads(line)
                        except ValueError:
                            continue
                        path = entry.get("path")
                        # each entry records its planning batch ("batchId"
                        # in both per-batch and .compact log files); prune
                        # only when that batch reached commits/. An entry
                        # without a batchId is conservatively kept.
                        bid = entry.get("batchId")
                        if path and bid is not None and str(bid) in committed:
                            processed.add(os.path.basename(path))
            except OSError:
                continue
        kept = names - processed
        if kept != names:
            os.makedirs(os.path.dirname(self._manifest_path), exist_ok=True)
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(sorted(kept), f)
            os.replace(tmp, self._manifest_path)

    def pause(self) -> None:
        """Stop the running query, keeping the checkpoint (= the queue)."""
        if self._query is not None:
            self._query.stop()
            self._query.awaitTermination()

    def resume(self) -> StreamingQuery:
        """Restart from the checkpoint with the last ``start`` arguments
        (and the current skip manifest)."""
        if not self._start_kwargs:
            raise RuntimeError("resume() before start()")
        return self.start(**self._start_kwargs)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import Observation

        self.batches_seen += 1
        # decode once: a TIFF stream re-runs its decode UDTF for every
        # action on the batch frame, so the pixel store and the plan scan
        # this checkpoint instead. The batch's (dataset, seq, image_id)
        # keys are an observed metric of the checkpoint job: they are the
        # emptiness check, csim's partition keys and the plan's image set
        # without a job of their own. The checkpoint is released when the
        # batch ends.
        keys = Observation(f"batch_keys_{batch_id}")
        batch_df = (
            batch_df.select("dataset", "seq", "image_id", "y", "x", "intensity")
            .observe(keys, F.collect_set(
                F.struct("dataset", "seq", "image_id")).alias("k"))
            .localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        )
        try:
            k = keys.get["k"]
            touched = sorted({(r.dataset, r.seq) for r in k})
            if touched:
                self._process_decoded(
                    batch_df, batch_id, touched,
                    sorted({r.image_id for r in k}),
                )
        finally:
            release(batch_df)

    def _process_decoded(
        self, batch_df: DataFrame, batch_id: int, touched: list,
        image_ids: list,
    ) -> None:
        from xrddatapipeline_spark import tables

        def store_then_csim() -> DataFrame:
            # the pixel store, partitioned by (dataset, seq) so the csim
            # lookback and any reprocessing read only the partitions they
            # need, is written on csim's side thread beside the plan:
            # csim is its only reader
            tables.write_table(
                batch_df, self._path("pixels"),
                partition_by=("dataset", "seq"), fmt=self.table_format,
            )
            return self._csim_frame(touched)

        def write(df: DataFrame, name: str) -> None:
            tables.write_table(df, self._path(name), fmt=self.table_format)

        with run_batch(
            batch_df,
            self.controls,
            write,
            store_then_csim,
            gradient_stage=self.gradient_stage,
            observe=self.observe_metrics,
            image_ids=image_ids,
        ) as res:
            if self.render_masks:
                from xrddatapipeline_spark.sinks import render_mask_tiffs

                shape = (self.controls.size_y, self.controls.size_x)
                masks_dir = self._path("masks")
                render_mask_tiffs(
                    res.pixels.where(F.col("base_mask")), shape,
                    masks_dir, "_base",
                ).collect()
                render_mask_tiffs(
                    res.outliers, shape, masks_dir, "_outliermask"
                ).collect()
            if self.observe_metrics and res.observations:
                # A22 analog: the reference prints per-stage counters at
                # Stop (pipeline_queue.py:1007-1014); here each batch
                # appends one row of stage counters, harvested for free
                # from the writes above (Observation piggybacks on the
                # materializing action — no extra job).
                flat: dict[str, int] = {"batch_id": int(batch_id)}
                for name, o in res.observations.items():
                    # Observation.get blocks until an action materializes
                    # the observed frame; every observed frame is a barrier
                    # or an output written above, but an observed frame no
                    # action ran would hang the stream forever — bound the
                    # wait and skip (with a warning) instead of hanging.
                    got = _observation_get(o, name, timeout_s=60.0)
                    if got is not None:
                        flat.update({k: int(v) for k, v in got.items()})
                self.spark.createDataFrame([flat]).write.mode("append").json(
                    self._path("stage_metrics")
                )

    def _csim_frame(self, touched: list) -> DataFrame:
        """T5: csim vs previous/first via the pixel store (J4-over-store)
        for the batch's ``touched`` (dataset, seq) images.

        Reads only the (dataset, seq) partitions needed: the batch images,
        each predecessor seq, and seq 0 of each touched dataset — a
        partition-pruned scan however large the store grows.
        """
        needed = set()
        for ds, seq in touched:
            needed.update({(ds, seq), (ds, seq - 1), (ds, 0)})
        cond = F.lit(False)
        for ds, seq in sorted(needed):
            cond = cond | ((F.col("dataset") == ds) & (F.col("seq") == seq))
        from xrddatapipeline_spark.tables import read_table

        store = read_table(
            self.spark, self._path("pixels"),
            fmt=self.table_format, schema=PIXEL_SCHEMA,
        )
        series = cosine_similarity_series(store.where(cond))
        batch_keys = F.lit(False)
        for ds, seq in touched:
            batch_keys = batch_keys | (
                (F.col("dataset") == ds) & (F.col("seq") == seq)
            )
        return series.where(batch_keys)

    def start(
        self,
        input_dir: str,
        checkpoint_dir: str,
        *,
        available_now: bool = True,
        processing_interval: str | None = None,
        max_files_per_trigger: int = 1,
        path_glob: str | None = None,
        settle_seconds: float = 0.0,
        source_format: str = "parquet",
    ) -> StreamingQuery:
        """Start the stream. ``available_now=True`` is the reference's
        'process existing images only' auto-stop mode (T4); a
        ``processing_interval`` (e.g. '1 second') is the live-watch mode.
        ``source_format='tiff'`` watches a directory of detector TIFFs
        (the reference's actual input) and decodes them in-stream;
        'parquet' expects pre-decoded pixel files (PIXEL_SCHEMA)."""
        self._start_kwargs = dict(
            input_dir=input_dir,
            checkpoint_dir=checkpoint_dir,
            available_now=available_now,
            processing_interval=processing_interval,
            max_files_per_trigger=max_files_per_trigger,
            path_glob=path_glob,
            settle_seconds=settle_seconds,
            source_format=source_format,
        )
        self._prune_skip_manifest(checkpoint_dir)
        skip_names = self._load_skip_names()
        if source_format == "tiff":
            from xrddatapipeline_spark.sources.tiff import stream_tiff_images

            stream = stream_tiff_images(
                self.spark,
                input_dir,
                glob=path_glob or "*.tif*",
                max_files_per_trigger=max_files_per_trigger,
                skip_names=skip_names,
            )
        else:
            stream = read_pixel_stream(
                self.spark,
                input_dir,
                max_files_per_trigger=max_files_per_trigger,
                path_glob=path_glob,
                settle_seconds=settle_seconds,
            )
            if skip_names:
                # cleared-queue files dropped at the source; basename match
                # (the manifest stores names, sources expose file:/ URIs).
                # The manifest is a small driver-side literal list — the
                # filter is a pushed-down scan predicate, no join.
                stream = stream.where(
                    ~F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ).isin(sorted(skip_names))
                )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_interval:
            writer = writer.trigger(processingTime=processing_interval)
        self._query = writer.start()
        return self._query

    def output(self, table: str) -> DataFrame:
        """Read-back view over an output table (§3.3 query surface)."""
        from xrddatapipeline_spark.tables import read_table

        if table == "stage_metrics":  # JSON sidecar, not a columnar table
            return self.spark.read.json(self._path(table))
        return read_table(self.spark, self._path(table), fmt=self.table_format)
