"""The closed-loop workloads: one caller applies a batch, waits for it,
then applies the next. Each drives only the public API of ``cdc``,
``lake``, ``streaming`` and ``analytics``; ``README.md`` says why each one
was chosen and which layer it stresses.

A workload writes its inputs in ``prepare`` and builds the state the loop
starts from in ``preload``, both untimed. ``loop`` applies the timed
batches, and ``verify`` compares every output with an independent
reference. ``BulkReplay`` is no workload of its own: the traced run uses it
for the single-core scaling figure.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark import cdc
from battetl_spark.analytics import clean_stream, sig_index
from battetl_spark.analytics.cache import cache_scope
from battetl_spark.analytics.textops import clean_corpus
from battetl_spark.cdc.history import HistoryTable
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import CHANGE_EVENT_SCHEMA, KEY_COLS, LINEAGE_SCHEMA, \
    TRANSCRIPT_TABLE_SCHEMA
from battetl_spark.streaming.pipeline import CdcStream, read_change_event_stream
from perfbench import inputs

CLEAN_LANGS = ("en", "de")
CLEAN_MIN_QUALITY = 0.5


@dataclass
class Recorder:
    """Samples and outcomes of one timed loop."""

    batch_s: list[float] = field(default_factory=list)
    records: int = 0
    ingest_wall_s: float | None = None  # stream: query start to last commit
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    event_bytes: int = 0
    lake: dict = field(default_factory=dict)
    merges: list[tuple] = field(default_factory=list)  # (touched ratio, changed, rebases)
    progress: list[dict] = field(default_factory=list)
    kept: int = 0
    seen: int = 0

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.failures.append(what)

    def ingest_rate(self) -> float:
        return self.records / (self.ingest_wall_s or sum(self.batch_s))


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def lake_stats(table: LakeTable) -> dict:
    """File layout of the table's current snapshot."""
    files = table.snapshot()["files"]
    entries = [e for es in files.values() for e in es]
    nonempty = sum(1 for es in files.values() if es)
    return {
        "files_per_bucket": len(entries) / max(1, nonempty),
        "delta_files": sum(1 for e in entries if e.get("delta")),
        "table_bytes": sum(
            os.path.getsize(os.path.join(table.path, e["path"])) for e in entries
        ),
        "meta_bytes": inputs.dir_bytes(os.path.join(table.path, "metadata")),
    }


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def observe_merge(self, rec: Recorder):
        def observe(args, result):
            table = args[0]
            rec.merges.append((
                len(result.buckets_rewritten) / table.num_buckets,
                result.rows_inserted + result.rows_updated + result.rows_deleted,
                result.rebases,
            ))
        return observe


# --------------------------------------------------------------- CDC tables

class _EventWorkload(Workload):
    """Shared parts of the workloads that merge change-event batches."""

    N_CONVS = 1_000
    NUM_BUCKETS = 16

    def new_table(self) -> LakeTable:
        return LakeTable.create(
            self.spark, self.fresh_dir("table"), TRANSCRIPT_TABLE_SCHEMA,
            num_buckets=self.NUM_BUCKETS, key_cols=KEY_COLS, sort_cols=KEY_COLS,
        )

    def events(self, paths):
        return self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)


class BulkReplay(_EventWorkload):
    """Two large hot-key-skewed batches merged copy-on-write (lineage off)
    into an empty 64-bucket table: the throughput regime."""

    NUM_BUCKETS = 64
    BATCH_EVENTS = [100_000, 100_000]

    def __init__(self, spark, seed: int, work_dir: str,
                 inputs_dir: str | None = None):
        super().__init__(spark, seed, work_dir)
        self.inputs_dir = inputs_dir

    def prepare(self) -> None:
        if self.inputs_dir:  # the single-core baseline replays given files
            self.paths = sorted(glob.glob(os.path.join(self.inputs_dir, "batch-*")))
        else:
            self.paths = inputs.write_event_batches(
                self.spark, self.fresh_dir("inputs"), self.seed, 0,
                self.BATCH_EVENTS, self.N_CONVS,
            )
        self.sizes = [self.spark.read.parquet(p).count() for p in self.paths]

    def warm_up(self) -> None:
        """Untimed replay of a small batch, which pays the merge's JIT."""
        small = inputs.write_event_batches(
            self.spark, self.fresh_dir("warm"), self.seed, 9, [10_000], 200)
        self._replay(small, [0], Recorder())

    def _replay(self, paths, sizes, rec: Recorder) -> None:
        """Merge every batch into a fresh table."""
        if getattr(self, "table", None) is not None:
            shutil.rmtree(self.table.path, ignore_errors=True)
        self.table = table = self.new_table()
        for epoch, path in enumerate(paths):
            result, s = timed(lambda: cdc.merge_apply(
                table, self.events([path]), epoch_id=epoch, collect_lineage=False))
            rec.batch_s.append(s)
            rec.records += sizes[epoch]
            rec.check(f"batch {epoch} not applied", result.applied)

    def replay_rate(self) -> float:
        """Events per merge-second of one replay of the prepared batches."""
        rec = Recorder()
        self._replay(self.paths, self.sizes, rec)
        if rec.failures:
            raise RuntimeError(f"replay failed: {rec.failures}")
        return rec.ingest_rate()


class StreamFreshness(_EventWorkload):
    """``CdcStream`` in its default configuration plus a ``HistoryTable``
    sink, catching up on a backlog of small microbatch files against a
    preloaded table. Files are staged up front; each committed batch
    releases the next one into the tailed directory while time remains, so
    every trigger sees exactly one new file and the stream stops idle."""

    name = "stream_freshness"
    BASE_EVENTS = 60_000
    BATCH_EVENTS = 8_000
    BACKLOG = 10
    MIN_BATCHES = 4

    def prepare(self) -> None:
        self.root = root = self.fresh_dir("stream")
        self.staged = self._stage(os.path.join(root, "staged"))
        self.src = os.path.join(root, "src")
        os.makedirs(self.src)
        self.released: list[str] = []

    def _stage(self, staged: str) -> list[str]:
        """The base batch, then BACKLOG microbatches: one parquet file each,
        LSN ranges increasing in that order."""
        lsn = F.col("lsn") - 1
        (inputs.spark_change_events(
            self.spark, self.BASE_EVENTS + self.BATCH_EVENTS * self.BACKLOG,
            n_convs=self.N_CONVS, seed=inputs.batch_seed(self.seed, 2, 0))
         .withColumn("__b", F.when(lsn < self.BASE_EVENTS, 0).otherwise(
             1 + ((lsn - self.BASE_EVENTS) / self.BATCH_EVENTS).cast("int")))
         .repartition(self.BACKLOG + 1, "__b")
         .write.partitionBy("__b").parquet(staged))
        return [
            glob.glob(os.path.join(staged, f"__b={b}", "*.parquet"))[0]
            for b in range(self.BACKLOG + 1)
        ]

    def preload(self) -> None:
        """Stream the base batch into a new table and history. This runs
        every plan the timed batches run, so it also pays their JIT."""
        self.table = self.new_table()
        self.history = HistoryTable.create(
            self.spark, os.path.join(self.root, "history"), self._payload_schema(),
            key_cols=KEY_COLS, num_buckets=self.NUM_BUCKETS)
        rec = Recorder()
        self._tail(rec, seconds=0, min_batches=1)
        if rec.failures:
            raise RuntimeError(f"preload failed: {rec.failures}")

    @staticmethod
    def _payload_schema() -> T.StructType:
        return T.StructType([
            f for f in CHANGE_EVENT_SCHEMA.fields
            if f.name not in ("lsn", "op", "source_partition")
        ])

    def _release(self) -> None:
        """Move the next staged file into the tailed directory."""
        b = len(self.released)
        dst = os.path.join(self.src, f"batch-{b:04d}.parquet")
        os.rename(self.staged[b], dst)
        self.released.append(dst)

    def _tail(self, rec: Recorder, seconds: float, min_batches: int) -> None:
        """Restart the stream from its checkpoint and feed it staged files
        until ``seconds`` pass and at least ``min_batches`` committed."""
        ends: list[float] = []
        done = threading.Event()

        def on_batch(epoch_id, result):
            ends.append(time.perf_counter())
            rec.check(f"epoch {epoch_id} not applied", result.applied)
            if len(self.released) < len(self.staged) and (
                    len(ends) < min_batches or ends[-1] - t0 < seconds):
                self._release()
            else:
                done.set()

        stream = CdcStream(
            self.table, os.path.join(self.root, "checkpoint"), on_batch=on_batch,
            metrics_dir=os.path.join(self.root, "metrics"),
            history_table=self.history)
        first = len(self.released)
        self._release()
        t0 = time.perf_counter()
        query = stream.start(
            read_change_event_stream(self.spark, self.src, max_files_per_trigger=1),
            available_now=False, processing_time="0 seconds")
        try:
            while not done.wait(0.2) and query.isActive:
                pass
            # a batch reports its progress after on_batch returns
            deadline = time.perf_counter() + 30
            while (query.isActive and time.perf_counter() < deadline and sum(
                    1 for p in query.recentProgress if p.numInputRows) < len(ends)):
                time.sleep(0.05)
        finally:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        for p in query.recentProgress:
            if p.numInputRows:  # skip idle triggers after the last file
                rec.progress.append(p.durationMs)
                rec.batch_s.append(p.durationMs["triggerExecution"] / 1e3)
        rec.records += len(ends) * self.BATCH_EVENTS
        rec.ingest_wall_s = ends[-1] - t0
        rec.attempted += len(ends)
        rec.event_bytes += sum(os.path.getsize(f) for f in self.released[first:])

    def loop(self, seconds: float, rec: Recorder) -> None:
        self._tail(rec, seconds, self.MIN_BATCHES)
        rec.lake = lake_stats(self.table)

    def verify(self, rec: Recorder) -> None:
        ref = inputs.lww_state(self.events(self.released)).cache()
        rec.check("table state differs from the LWW reference", inputs.same_rows(
            self.table.scan().select(*inputs.STATE_COLS), ref))
        current = self.history.current_state().withColumnRenamed(
            "valid_from_lsn", "_last_lsn").select(*inputs.STATE_COLS)
        rec.check("history current state differs from the LWW reference",
                  inputs.same_rows(current, ref))
        ref.unpersist()
        feed = self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.root, "metrics"))
        per_epoch = feed.groupBy("epoch_id").agg(
            F.count("*").alias("rows"),
            F.countDistinct("source_partition").alias("parts"),
            F.countDistinct("snapshot_id").alias("snaps"),
        ).collect()
        rec.check("metrics feed epochs differ from the applied epochs",
                  sorted(r["epoch_id"] for r in per_epoch)
                  == list(range(len(self.released))))
        rec.check("metrics feed has an epoch without exactly one lineage set", all(
            r["rows"] == r["parts"] and r["snaps"] == 1 for r in per_epoch))


# ------------------------------------------------------------------ curation

class CurationIncremental(Workload):
    """``IncrementalCorpusCleaner.add_batch`` over the sf0.1 documents in
    monotone doc_id batches; the only workload that reaches ``analytics``.
    The first batch is applied untimed, which pays the JIT of every plan the
    cleaner runs. The loop applies the rest of the corpus whatever the time
    budget, so the result is checked against the whole-corpus answer. A
    batch costs about the same at any size (it is commit-bound), so the
    two timed batches take longer than a 10 s budget."""

    name = "curation_incremental"
    FIRST_DOCS = 500
    BATCHES = 2

    def prepare(self) -> None:
        self.batches = inputs.document_batches(
            self.spark, self.seed, self.FIRST_DOCS, self.BATCHES)

    def docs(self, lo: int, hi: int):
        return inputs.documents(self.spark).filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def preload(self) -> None:
        self.cleaner = clean_stream.IncrementalCorpusCleaner.create(
            self.spark, self.fresh_dir("cleaner"),
            min_quality=CLEAN_MIN_QUALITY, langs=CLEAN_LANGS)
        lo, hi, _ = self.batches[0]
        with cache_scope():
            self.cleaner.add_batch(self.docs(lo, hi), epoch_id=0)

    def loop(self, seconds: float, rec: Recorder) -> None:
        for epoch, (lo, hi, n) in enumerate(self.batches[1:], start=1):
            with cache_scope():
                out, s = timed(lambda: self.cleaner.add_batch(
                    self.docs(lo, hi), epoch_id=epoch))
            rec.batch_s.append(s)
            rec.records += n
            rec.seen += out["seen"]
            rec.kept += out["kept"]
            rec.attempted += 1
        rec.lake = lake_stats(self.cleaner.out)

    def verify(self, rec: Recorder) -> None:
        out = self.cleaner.result()
        with cache_scope():
            ref = inputs.fingerprint(clean_corpus(
                inputs.documents(self.spark), min_quality=CLEAN_MIN_QUALITY,
                langs=CLEAN_LANGS).select(*out.columns))
        rec.check("cleaner output differs from batch clean_corpus",
                  inputs.fingerprint(out) == ref)
        rec.check(f"batch clean_corpus kept {ref[0]} documents, not "
                  f"{inputs.DOCUMENTS_KEPT}", ref[0] == inputs.DOCUMENTS_KEPT)


WORKLOADS = {w.name: w for w in (StreamFreshness, CurationIncremental)}


# Layer boundaries the traced run wraps: (owner, attribute, span name).
def boundaries():
    from battetl_spark.cdc import merge as merge_mod

    return [
        (merge_mod, "merge_apply", "cdc.merge_apply"),
        (HistoryTable, "apply", "cdc.history_apply"),
        (LakeTable, "replace_buckets", "lake.replace_buckets"),
        (LakeTable, "compact", "lake.compact"),
        (LakeTable, "append", "lake.append"),
        (LakeTable, "compact_fences", "lake.compact_fences"),
        (LakeTable, "snapshot", "lake.snapshot"),
        (clean_stream.IncrementalCorpusCleaner, "add_batch",
         "analytics.cleaner_add_batch"),
        (sig_index.MinHashIndex, "ensure_indexed", "analytics.minhash_ensure_indexed"),
        (sig_index.MinHashIndex, "pairs_involving", "analytics.minhash_pairs_involving"),
    ]
