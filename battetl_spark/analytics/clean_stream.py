"""Incremental corpus cleaning into a CDC-maintained LakeTable — the
round-5 capstone integration: the analytics operators FEED the engine's own
merge path, so a 100-TB training-data pipeline cleans each ingest batch
against persisted state instead of recomputing the corpus.

Batch semantics being maintained incrementally (``textops.clean_corpus``):
language filter → quality filter → exact dedup (min-id winner per md5
digest) → near-dup dedup (drop ``id_b`` of every verified minhash pair
among exact winners). ``IncrementalCorpusCleaner`` reproduces that answer
batch-by-batch under the reference's only-new-rows watermark model
(/root/reference/battetl/load/Loader.py:144-234): batches arrive in
doc_id order (ids monotone with ingest time — the realistic case), so

- an exact duplicate of an indexed digest is ALWAYS the non-winner (the
  indexed winner has the smaller id) — dropped, no retraction;
- every near-dup pair's ``id_b`` (the larger id) is ALWAYS in the current
  batch — the pair's drop victim is decided exactly once, when its later
  member arrives (the MinHashIndex pair-ownership rule);
- the output table is therefore append-only per batch, and its final state
  equals ``clean_corpus`` over the whole corpus (pinned by
  ``test_incremental_corpus_cleaner_equals_batch`` and the
  ``corpus_clean_incremental`` oracle query).

OUT-OF-ORDER mode (``create(..., ordered=False)``): batches may arrive in
ANY id order — a late-arriving SMALLER id can displace earlier decisions,
and the cleaner emits CDC **delete** retractions through the same fenced
merge. The correctness argument rests on two provable invariants of the
batch rule (drop ``id_b`` of every verified pair among exact winners —
non-cascading):

1. **Drop status is monotone under insert-only corpora.** A doc becomes
   dropped when a smaller winner pairs with it; it can only be UN-dropped
   if that pair vanishes, which requires demoting its smaller partner w —
   but w is only demoted by an identical-text twin w' < w, whose pair with
   the doc still drops it. So retractions are always deletes, never
   re-inserts.
2. **Demoted winners' stale signatures are harmless.** The signature index
   keeps every doc that was EVER a winner; a demoted entry x has an
   identical-text twin w* < x among true winners, so any extra pair
   (x, y) the index reports has a twin (w*, y) that the batch rule counts
   anyway — the drop set computed over winners ∪ demoted equals the drop
   set over winners.

Per batch the delta vs ordered mode: exact winners are resolved by MIN id
per digest (a smaller late arrival appends a new (digest, keep_id) row and
the old winner is retracted — its deletion falls out of the near-dup pass,
since identical text ⇒ jaccard 1 ⇒ a guaranteed-recall banding hit);
retractions are ALL dropped ids (deleting an id never inserted lands as a
harmless fenced tombstone — required because a re-ingested batch can
contain a doc demoted by a same-batch smaller twin); events carry
``lsn = epoch_id`` so later decisions override earlier ones (epoch ids
must increase across batches — Structured Streaming's contract). The
id-monotone watermark filter is off; idempotent re-ingest falls out of
the digest/signature indexes plus value-idempotent merge events instead.
Final state equals ``clean_corpus`` for ANY batch partitioning in ANY
order (pinned by ``test_cleaner_out_of_order_equals_batch`` and the
``corpus_clean_ooo`` oracle query). Source-side DELETES of corpus docs
(true CDC retraction of inputs) would break invariant 1 (drops could
need undoing) — documented unsupported, batches are insert-only.

Rows at or below the watermark are filtered out (idempotent re-ingest —
the reference's 0-row re-load, tests/test_Loader.py:341-343); the
watermark advances atomically AFTER the fenced merge commit, so a crash
between them replays the batch into the fence (exactly-once either way).

State on disk (all snapshot-isolated LakeTables + one meta pointer):
``digests/`` (md5 → winner id), ``sig/`` (MinHashIndex of exact winners —
ALL winners, dropped-or-not: the batch rule computes pairs among winners,
not survivors), ``out/`` (doc_id, lang, q_score keyed by doc_id,
maintained via ``merge_apply`` change events), ``meta.json`` (watermark).

Scale shape: per batch — one quality/language projection over batch rows,
one digest anti-join (index side prunes to (digest, keep_id)), one
MinHashIndex.ensure_indexed (batch-only signatures appended) plus one
pairs_involving (banded join of the batch's ids vs the index), one fenced
merge commit. Nothing rescans corpus text.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.analytics.cache import track as _track
from battetl_spark.analytics.sig_index import MinHashIndex
from battetl_spark.analytics.textops import exact_dedup, quality_features
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable
from battetl_spark.streaming.pipeline import (
    _MicrobatchDriver,
    read_change_event_stream,
)

DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("digest", T.StringType(), False),
        T.StructField("keep_id", T.LongType(), False),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("q_score", T.DoubleType(), True),
        T.StructField("_last_lsn", T.LongType(), False),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)

_META = "meta.json"


class IncrementalCorpusCleaner:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.out = LakeTable.load(spark, os.path.join(self.path, "out"))
        self.digests = LakeTable.load(spark, os.path.join(self.path, "digests"))
        self.sig = MinHashIndex.open(spark, os.path.join(self.path, "sig"))
        cfg = json.loads(self.out.snapshot()["properties"]["corpus_cleaner"])
        self.min_quality = float(cfg["min_quality"])
        self.langs = tuple(cfg["langs"])
        self.near_dup_threshold = float(cfg["near_dup_threshold"])
        # tables created before the mode existed are ordered (the old
        # contract); the mode is a TABLE property, not a call argument —
        # mixing lsn schemes within one output table would corrupt LWW
        self.ordered = bool(cfg.get("ordered", True))

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        min_quality: float = 0.5,
        langs: tuple[str, ...] = ("en",),
        near_dup_threshold: float = 0.8,
        num_buckets: int = 16,
        ordered: bool = True,
    ) -> "IncrementalCorpusCleaner":
        path = os.path.abspath(path)
        os.makedirs(path, exist_ok=True)
        LakeTable.create(
            spark, os.path.join(path, "out"), OUT_SCHEMA,
            num_buckets=num_buckets, bucket_key="doc_id",
            key_cols=["doc_id"], sort_cols=["doc_id"],
            properties={
                "corpus_cleaner": json.dumps(
                    {
                        "min_quality": float(min_quality),
                        "langs": list(langs),
                        "near_dup_threshold": float(near_dup_threshold),
                        "ordered": bool(ordered),
                    }
                )
            },
        )
        LakeTable.create(
            spark, os.path.join(path, "digests"), DIGEST_SCHEMA,
            num_buckets=num_buckets, bucket_key="digest",
        )
        MinHashIndex.create(
            spark, os.path.join(path, "sig"), num_buckets=num_buckets
        )
        with open(os.path.join(path, _META), "w") as f:
            json.dump({"watermark": -1}, f)
        return cls(spark, path)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "IncrementalCorpusCleaner":
        return cls(spark, path)

    def watermark(self) -> int:
        with open(os.path.join(self.path, _META)) as f:
            return int(json.load(f)["watermark"])

    def _set_watermark(self, v: int) -> None:
        tmp = os.path.join(self.path, f".{_META}.tmp")
        with open(tmp, "w") as f:
            json.dump({"watermark": int(v)}, f)
        os.replace(tmp, os.path.join(self.path, _META))

    # ---------------------------------------------------------------- ingest
    def add_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        id_col: str = "doc_id",
        text_col: str = "text",
        lang_col: str = "lang",
    ) -> dict:
        """Clean one batch into the output table; returns per-batch counts.
        Ordered mode: batches must be monotone in doc_id; re-ingest below
        the watermark is a no-op. Out-of-order mode: any id order; epoch
        ids must increase across batches (they become the event lsn).
        Either way a replayed epoch is fenced by the merge commit."""
        wm = self.watermark()
        new = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(lang_col).alias("lang"),
        )
        if self.ordered:
            new = new.filter(F.col("doc_id") > wm)
        hdr = new.agg(
            F.max("doc_id").alias("m"), F.count("*").alias("n")
        ).collect()[0]  # ONE aggregate job: watermark + batch size together
        max_seen, n_seen = hdr["m"], int(hdr["n"])
        if max_seen is None:
            return {"seen": 0, "kept": 0}

        # language + quality filters — the ROUNDED score, exactly as the
        # batch pipeline filters it
        q = quality_features(new.filter(F.col("lang").isin(*self.langs)), "text")
        # persisted: consumed by the digest-dedup base, the winners join
        # and the output events — unpersisted, each consumer re-runs the
        # regex-heavy quality pipeline over the batch (3× measured)
        filtered = _track(
            q.filter(F.col("q_score") >= self.min_quality).select(
                "doc_id", "lang", "q_score"
            )
        )
        base = new.join(filtered.select("doc_id"), "doc_id")

        # exact dedup vs the persisted digest index: an indexed digest's
        # winner has a smaller id by monotonicity, so batch docs matching
        # one are non-winners; within the batch the min id wins. The append
        # is idempotent (anti-joined), and winners for the DOWNSTREAM steps
        # are derived from the post-append digest state — so a replay after
        # a crash at ANY later point re-derives the same winner set instead
        # of losing it to the anti-join.
        if self.ordered:
            batch_winners = (
                exact_dedup(base, "doc_id", "text")
                .select("digest", "keep_id")
                .join(self.digests.scan().select("digest"), "digest",
                      "left_anti")
            )
        else:
            # min-id winner per digest across ALL arrivals: a late smaller
            # id appends a new (digest, keep_id) row; readers resolve by
            # joining on keep_id membership (the demoted row stays — its
            # doc is retracted below via the guaranteed identical-text
            # near-dup pair, and its stale signature is harmless per the
            # module docstring's twin-domination invariant)
            cur = self.digests.scan().groupBy("digest").agg(
                F.min("keep_id").alias("__cur")
            )
            batch_winners = (
                exact_dedup(base, "doc_id", "text")
                .select("digest", "keep_id")
                .join(cur, "digest", "left")
                .filter(
                    F.col("__cur").isNull()
                    | (F.col("keep_id") < F.col("__cur"))
                )
                .select("digest", "keep_id")
            )
        self.digests.append(batch_winners)
        # persisted: referenced by signature indexing, pair discovery, and
        # the survivor anti-join — unpersisted, each would re-run the
        # quality pipeline + digest join
        winners_docs = _track(
            base.join(
                self.digests.scan()
                .select(F.col("keep_id").alias("doc_id")).distinct(),
                "doc_id",
            )
        )

        # near-dup pairs vs ALL indexed exact winners (the batch rule
        # computes pairs among winners, not survivors); monotone ids put
        # every pair's id_b in this batch. Indexing and pair discovery are
        # SEPARATE idempotent steps: ensure_indexed replays to a no-op, and
        # pairs_involving treats batch membership (not storage recency) as
        # 'new', so a crash between them replays to the same pair set —
        # add_batch's fused only-new path would silently return no pairs
        # for already-indexed winners on replay.
        self.sig.ensure_indexed(winners_docs.select("doc_id", "text"))
        pairs = self.sig.pairs_involving(
            winners_docs.select("doc_id"),
            jaccard_threshold=self.near_dup_threshold,
        )
        # persisted: feeds both the survivor anti-join and (ooo mode) the
        # retraction events — unpersisted, each re-runs the band join
        dropped = _track(
            pairs.select(F.col("id_b").alias("doc_id")).distinct()
        )
        survivors = winners_docs.select("doc_id").join(
            dropped, "doc_id", "left_anti"
        )

        # ordered mode: per-doc lsn (ids are ingest-ordered). Out-of-order
        # mode: lsn = epoch_id, so a later batch's retraction overrides an
        # earlier batch's insert of the same key regardless of id order.
        lsn = (F.col("doc_id") if self.ordered
               else F.lit(int(epoch_id)).cast("long"))
        events = (
            survivors.join(filtered, "doc_id")
            .select(
                lsn.alias("lsn"),
                F.lit("i").alias("op"),
                "doc_id",
                "lang",
                "q_score",
                F.pmod(F.col("doc_id"), F.lit(16)).cast("int").alias(
                    "source_partition"
                ),
            )
        )
        if not self.ordered:
            # retract EVERY dropped id — displaced old survivors, demoted
            # exact winners (their identical-text twin pair guarantees a
            # banding hit), and batch members a re-ingest might have
            # inserted in an earlier epoch. Deleting a never-inserted key
            # is a harmless tombstone; inserts and deletes stay disjoint
            # (survivors are anti-joined on the same dropped set).
            events = events.unionByName(
                dropped.select(
                    lsn.alias("lsn"),
                    F.lit("d").alias("op"),
                    "doc_id",
                    F.lit(None).cast("string").alias("lang"),
                    F.lit(None).cast("double").alias("q_score"),
                    F.pmod(F.col("doc_id"), F.lit(16)).cast("int").alias(
                        "source_partition"
                    ),
                )
            )
        # persisted: merge_apply consumes the event frame twice (envelope
        # aggregate with lineage offsets, LWW resolve); the
        # replay bench reads events from parquet where re-reads are cheap,
        # but here each pass would re-run the quality+join pipeline
        # (measured ~8 s of the ~14 s warm batch at sf1)
        events = _track(events)
        result = merge_apply(
            self.out, events, epoch_id=epoch_id, key_cols=["doc_id"]
        )
        self._set_watermark(max(wm, max_seen))
        return {
            "seen": n_seen,
            "kept": int(result.rows_inserted + result.rows_updated),
        }

    # ----------------------------------------------------------------- read
    def result(self) -> DataFrame:
        """Current cleaned-corpus state — (doc_id, lang, q_score), the
        ``clean_corpus`` output columns."""
        return self.out.scan().select("doc_id", "lang", "q_score")


DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Tail a directory of document parquet files as a stream (one file per
    microbatch by default — the arrival unit of a drop-folder ingest)."""
    return read_change_event_stream(
        spark, path, max_files_per_trigger, schema=schema or DOC_STREAM_SCHEMA
    )


class CleanerStream(_MicrobatchDriver):
    """Structured Streaming driver for ``IncrementalCorpusCleaner`` — the
    same foreachBatch shape as ``streaming.pipeline.CdcStream``, closing the
    loop: readStream over arriving documents → per-microbatch incremental
    clean → fenced CDC merge into the output LakeTable.

    Exactly-once: the checkpoint WAL pins each microbatch's source offsets
    BEFORE processing, so a restart replays the identical batch under the
    identical ``epoch_id``; ``add_batch`` is replay-idempotent end to end
    (digest append anti-joined/min-filtered, ``ensure_indexed`` no-op, merge
    fenced by epoch) — a crash at ANY point inside it converges on replay.

    Use an ``ordered=False`` cleaner unless the source provably delivers
    id-monotone microbatches: Spark's file source orders batches by file
    DISCOVERY, not by your id space. The out-of-order mode's lsn contract
    (``lsn = epoch_id``, strictly increasing across batches) is exactly
    Structured Streaming's epoch contract — a replayed batch keeps its id,
    new batches always get larger ones, including across restarts."""

    def __init__(
        self,
        cleaner: IncrementalCorpusCleaner,
        checkpoint_dir: str,
        on_batch=None,
        fail_injector=None,
        auto_compact_files: int | None = 16,
        auto_compact_fences_every: int | None = 64,
    ):
        super().__init__(
            checkpoint_dir, on_batch, fail_injector,
            auto_compact_files, auto_compact_fences_every,
        )
        self.cleaner = cleaner

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._inject(epoch_id, "before_add")
        r = self.cleaner.add_batch(batch_df, epoch_id=epoch_id)
        self._inject(epoch_id, "after_add")
        # the cleaner's three state tables (output, digest index, signature
        # index) each accrete one file per touched bucket per batch
        c = self.cleaner
        self._maintain((c.out, c.digests, c.sig.table), epoch_id)
        if self.on_batch is not None:
            self.on_batch(epoch_id, r)
