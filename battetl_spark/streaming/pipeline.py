"""Structured Streaming wrapper: WAL/binlog tail → fenced MERGE.

The reference's incremental load is a batch re-run guarded by a watermark
query (reference battetl/load/Loader.py:144-234); the streaming analog is
``readStream`` over the ordered change log with ``foreachBatch`` applying the
same fenced merge (SURVEY.md §2.9, §3.4):

- Spark's checkpoint WAL pins each microbatch's source offsets *before*
  processing, so a restarted query replays the identical batch under the
  identical ``epoch_id``;
- ``merge_apply`` records the epoch in the table's fence map atomically with
  the data swap, so a replayed epoch (crash after commit, before checkpoint
  ack) is a no-op → end-to-end exactly-once;
- a crash *before* commit replays and applies normally.

Source adapters: any streaming DataFrame with the change-event schema works.
``read_change_event_stream`` provides the file/dir tail used by tests and
bench (``maxFilesPerTrigger`` = microbatch sizing); on a real deployment the
same pipeline reads a Kafka/binlog source with lsn supplied by the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from battetl_spark.cdc.merge import merge_apply
from battetl_spark.lake.table import LakeTable, lineage_frame
from battetl_spark.schemas import CHANGE_EVENT_SCHEMA


def read_change_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> DataFrame:
    """Tail a directory of change-event parquet files as a stream."""
    return (
        spark.readStream.schema(schema or CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_metrics_stream(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window rollup with a late-data watermark
    (SURVEY §2.9: watermarks + windowed aggs) — the streaming metrics feed
    beside the merge (per-window event counts / op mix / max LSN).

    Semantics (standard Structured Streaming): state for a window is kept
    until the event-time watermark (max seen ts - ``watermark``) passes its
    end; later-arriving events for finalized windows are DROPPED, which is
    what bounds state at 10^10 events — without it every window lives
    forever. In append output mode each finalized window emits exactly once,
    so the sink can be a plain append table."""
    # watermarks require TIMESTAMP (tz-aware); the event schema's ts is
    # timestamp_ntz — with the session tz pinned to UTC the cast is lossless
    return (
        events.withColumn("__evt", F.col("ts").cast("timestamp"))
        .withWatermark("__evt", watermark)
        .groupBy(F.window("__evt", window_duration).alias("win"), "op")
        .agg(F.count("*").alias("n_events"), F.max("lsn").alias("max_lsn"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            F.col("op"),
            F.col("n_events"),
            F.col("max_lsn"),
        )
    )


class _MicrobatchDriver:
    """``foreachBatch(self._apply)`` over a streaming source, checkpointed
    in ``checkpoint_dir``, with one maintenance step after every batch —
    the driver loop ``CdcStream`` and ``analytics.CleanerStream`` share.

    ``on_batch(epoch_id, result)`` (tests/metrics) runs after each batch;
    ``fail_injector(epoch_id, phase)`` may raise to simulate a crash."""

    def __init__(
        self,
        checkpoint_dir: str,
        on_batch=None,
        fail_injector=None,
        auto_compact_files: int | None = 16,
        auto_compact_fences_every: int | None = 64,
    ):
        self.checkpoint_dir = checkpoint_dir
        self.on_batch = on_batch
        self.fail_injector = fail_injector
        # long-running streams accrete files per touched bucket per commit;
        # compact any bucket whose file count crosses this threshold, right
        # after the batch (bounds read amplification — VERDICT r1 #8).
        # None disables. Compaction is itself a snapshot-atomic copy-on-write
        # commit with conflict detection, so a crash mid-compact is harmless.
        self.auto_compact_files = auto_compact_files
        # the fence map otherwise grows one entry per epoch for the stream's
        # lifetime (O(epochs) JSON copied into every snapshot root); folding
        # the contiguous fenced prefix every N epochs keeps it O(recent
        # epochs). None disables. Safe anywhere in the loop — compact_fences
        # never un-fences an epoch.
        self.auto_compact_fences_every = auto_compact_fences_every

    def _inject(self, epoch_id: int, phase: str) -> None:
        if self.fail_injector is not None:
            self.fail_injector(epoch_id, phase)

    def _maintain(self, tables, epoch_id: int) -> None:
        """Fold crowded buckets and the fenced epoch prefix of every table
        the batch wrote, each through its own ``compact`` (a
        ``HistoryTable`` keeps its ``valid_from_lsn`` clustering, so
        ``state_as_of`` keeps skipping files). Runs after every batch,
        applied or a fenced replay: both folds commit nothing when there is
        nothing to fold, and a crash in here replays the (idempotent) batch
        and re-attempts them."""
        fold_fences = (
            self.auto_compact_fences_every is not None
            and epoch_id % self.auto_compact_fences_every == 0
        )
        for t in tables:
            if self.auto_compact_files is not None:
                t.compact(min_files_per_bucket=self.auto_compact_files)
            if fold_fences:
                t.compact_fences()

    def start(
        self,
        events: DataFrame,
        available_now: bool = True,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        writer = events.writeStream.foreachBatch(self._apply).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_to_completion(self, events: DataFrame, timeout_s: int = 600) -> None:
        q = self.start(events, available_now=True)
        q.awaitTermination(timeout_s)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))


class CdcStream(_MicrobatchDriver):
    """Drives a change-event stream into a LakeTable with exactly-once
    fenced merges, plus optional history, stats and metrics sinks."""

    def __init__(
        self,
        table: LakeTable,
        checkpoint_dir: str,
        merge_mode: str = "cow",
        collect_lineage: bool = True,
        on_batch=None,
        fail_injector=None,
        auto_compact_files: int | None = 16,
        auto_compact_fences_every: int | None = 64,
        metrics_dir: str | None = None,
        stats_table: LakeTable | None = None,
        history_table=None,
    ):
        super().__init__(
            checkpoint_dir, on_batch, fail_injector,
            auto_compact_files, auto_compact_fences_every,
        )
        self.table = table
        # "mor" appends delta files per batch (write ∝ batch bytes) and lets
        # auto-compaction fold them — pair with auto_compact_files to bound
        # the read-side resolve
        self.merge_mode = merge_mode
        self.collect_lineage = collect_lineage
        # metrics table: per-partition lineage rows (source offsets, commit
        # snapshot-id, row counts) appended per batch — the queryable metrics
        # feed beside the fenced merge. Idempotent under replay: a replayed
        # epoch is fenced → applied=False → nothing re-appended.
        self.metrics_dir = metrics_dir
        # incrementally-maintained stats table (U2 overwrite analog). The
        # TWO tables fence the same epoch independently, which is what makes
        # the pair exactly-once without a cross-table transaction: a crash
        # BETWEEN the two commits replays the epoch, the merge is a fence
        # no-op, and the stats refresh (not yet fenced) recomputes from the
        # already-merged table state — converging to the same result.
        self.stats_table = stats_table
        # optional SCD-2 sink (battetl_spark.cdc.HistoryTable): the same
        # batch also maintains the full-version history table. The two
        # sinks fence the SAME epoch on SEPARATE tables — the dual-commit
        # convergence argument above applies verbatim: a crash between the
        # merge commit and the history commit replays the epoch; whichever
        # table already fenced it no-ops, the other applies. History
        # apply is additionally ROW-level idempotent (duplicate (key, lsn)
        # frames collapse to the existing row), so even an unfenced replay
        # cannot duplicate versions.
        self.history_table = history_table

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._inject(epoch_id, "before_merge")
        result = merge_apply(
            self.table,
            batch_df,
            epoch_id=epoch_id,
            collect_lineage=self.collect_lineage,
            mode=self.merge_mode,
        )
        self._inject(epoch_id, "after_merge")
        tables = [self.table]
        if self.history_table is not None:
            self.history_table.apply(
                batch_df, epoch_id=epoch_id, collect_lineage=False
            )
            tables.append(self.history_table)  # compacts with its clustering
        if self.stats_table is not None:
            from battetl_spark.cdc.stats_maintenance import refresh_stats

            # touched keys come from the raw batch (NOT from result.applied:
            # after a crash between the two commits the merge replays as a
            # fence no-op but the stats refresh must still run)
            refresh_stats(
                self.table,
                self.stats_table,
                batch_df.select("conv_id"),
                epoch_id=epoch_id,
            )
            tables.append(self.stats_table)
        if self.metrics_dir is not None:
            rows = result.lineage if result.applied else []
            if (
                not result.applied
                and self.collect_lineage
                and self.table.has_fence(epoch_id)
                and not self._metrics_epoch_present(batch_df.sparkSession, epoch_id)
            ):
                # heal the at-most-once gap: a crash between the merge commit
                # and the metrics append leaves a fenced epoch with no metrics
                # row, and the replayed merge (applied=False) carries no
                # lineage. Recover the epoch's lineage from the
                # snapshot-embedded copy and append it exactly once (guarded
                # by the lacks-this-epoch check above).
                rows, fencing_seen = self.table.epoch_lineage(epoch_id)
                if not rows and not fencing_seen:
                    # recoverable only while the fencing snapshot's metadata
                    # survives — if vacuum_files dropped it before the replay,
                    # say so loudly instead of silently losing the epoch.
                    # (fencing_seen distinguishes the benign case: the run
                    # that fenced this epoch had collect_lineage=False, so
                    # its retained snapshot legitimately carries no lineage
                    # — a config difference, not data loss; no warning.)
                    import warnings

                    warnings.warn(
                        f"metrics heal: epoch {epoch_id} is fenced but its "
                        "lineage is in no retained snapshot (vacuumed before "
                        "replay?) — this epoch will be missing from the "
                        "metrics table",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            if rows:
                lineage_frame(batch_df.sparkSession, rows).coalesce(1).write.mode(
                    "append"
                ).parquet(self.metrics_dir)
        self._maintain(tables, epoch_id)
        if self.on_batch is not None:
            self.on_batch(epoch_id, result)

    def _metrics_epoch_present(self, spark, epoch_id: int) -> bool:
        import glob
        import os

        if not glob.glob(os.path.join(self.metrics_dir, "**", "*.parquet"),
                         recursive=True):
            return False
        from battetl_spark.schemas import LINEAGE_SCHEMA

        m = spark.read.schema(LINEAGE_SCHEMA).parquet(self.metrics_dir)
        return m.filter(F.col("epoch_id") == int(epoch_id)).limit(1).count() > 0
