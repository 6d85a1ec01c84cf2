"""SCD-2 / full-version history maintenance over a change-event stream.

The LWW merge engine (battetl_spark.cdc.merge) materializes CURRENT state
only — the shape the reference maintains (battetl's destination tables are
overwrite-upserts, /root/reference/battetl/load/Loader.py:236-332). A CDC
consumer at 100 TB usually also wants the *history* table: every row image
the WAL ever produced, versioned with ``[valid_from_lsn, valid_to_lsn)``
validity intervals so any past state is reconstructible with one
interval predicate (LSN time travel), and audits/debug diffs are scans,
not replays.

``HistoryTable`` maintains exactly that, incrementally, on the same
snapshot-isolated LakeTable substrate the merge engine uses, with the same
epoch fences (exactly-once replay) and the same bucket-pruned copy-on-write
cost model:

  * a batch touches only the buckets its keys hash to — read + rewrite is
    O(batch + touched-bucket bytes), never O(table);
  * ONE key-partitioned shuffle per batch: the union of (existing versions
    in touched buckets) and (incoming events) flows through a single
    window partitioning — duplicate (key, lsn) suppression rides the same
    sort as the ``lead`` that re-chains ``valid_to_lsn``, so Catalyst emits
    one Exchange, not two;
  * out-of-order arrivals SPLICE: because the touched keys' full chains are
    re-derived from the union, a late event lands in the middle of its
    key's interval chain and the neighbors' validity updates — batch-built
    and incrementally-built histories are equal under ANY batch order (the
    LWW engine instead drops late losers; both end at the same current
    state, which ``test_history.py`` pins).

Batch semantics (the oracle): for each key, sort its events by lsn;
``valid_to_lsn`` = the next event's lsn (NULL = still open); a key exists
at LSN ``L`` iff its covering interval's op != 'd'.

Skew note: the per-key window chain is as long as one key's version count.
Hot-conversation skew spreads across (conv_id, turn_idx) keys; a single
pathological key degenerates to one sorted run, which is inherent to
SCD-2 (an interval chain is a serial object) and bounded by that key's
event count, not the batch.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.cdc.merge import (
    CHANGE_COL,
    MergeResult,
    _apply_fenced,
    _payload_fields,
)
from battetl_spark.lake.table import BUCKET_COL, LakeTable, bucket_expr

VALID_FROM = "valid_from_lsn"
VALID_TO = "valid_to_lsn"
OP_COL = "op"
_META = (OP_COL, VALID_FROM, VALID_TO)
_META_FIELDS = [
    T.StructField(OP_COL, T.StringType(), False),
    T.StructField(VALID_FROM, T.LongType(), False),
    T.StructField(VALID_TO, T.LongType(), True),
]


def history_rows(
    events: DataFrame, key_cols: list[str], lsn_col: str = "lsn"
) -> DataFrame:
    """Batch form: change events → SCD-2 versioned rows.

    One winner per (key, lsn) (at-least-once sources re-emit identical
    frames; ties broken deterministically by the row image), then
    ``valid_to_lsn`` = lead(lsn) per key. Both steps share ONE window
    partitioning (partitionBy key, orderBy lsn) — a duplicate is a row
    whose lsn equals its predecessor's under that sort, so suppression
    needs no extra shuffle.
    """
    other = [c for c in events.columns if c not in key_cols and c != lsn_col]
    # deterministic duplicate pick: order dup groups by the serialized row
    # image (orderable for ANY payload type, incl. arrays/maps)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(lsn_col), F.to_json(F.struct(*[F.col(c) for c in other]))
    )
    chained = (
        events.withColumn("__dup", F.lag(lsn_col).over(w) == F.col(lsn_col))
        .filter(~F.coalesce(F.col("__dup"), F.lit(False)))
        # same partitioning+prefix sort → no second Exchange for the lead
        .withColumn(
            VALID_TO,
            F.lead(lsn_col).over(
                Window.partitionBy(*key_cols).orderBy(lsn_col)
            ),
        )
    )
    return chained.select(
        *key_cols,
        *[c for c in other if c not in ("source_partition", "__dup")],
        F.col(lsn_col).alias(VALID_FROM),
        F.col(VALID_TO),
    )


class HistoryTable:
    """An incrementally-maintained SCD-2 history LakeTable.

    Schema = payload columns (key cols included) + ``op`` ('i'|'u'|'d') +
    ``valid_from_lsn`` + ``valid_to_lsn`` (NULL = open). ``valid_from_lsn``
    and ``valid_to_lsn`` are zone-mapped (``stats_cols`` property) so
    ``state_as_of`` scans skip files whose interval range can't cover the
    asked LSN.
    """

    def __init__(self, table: LakeTable):
        self.table = table
        self.spark = table.spark

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        payload_schema: T.StructType,
        key_cols: list[str],
        bucket_key: str | None = None,
        num_buckets: int = 16,
    ) -> "HistoryTable":
        fields = [f for f in payload_schema.fields if f.name not in _META]
        schema = T.StructType(fields + _META_FIELDS)
        table = LakeTable.create(
            spark,
            path,
            schema,
            num_buckets=num_buckets,
            bucket_key=bucket_key or key_cols[0],
            key_cols=key_cols,
            sort_cols=key_cols + [VALID_FROM],
            properties={
                "stats_cols": [VALID_FROM, VALID_TO],
                # interval bookkeeping must survive schema evolution:
                # drop_column / rename_column refuse protected_cols
                "protected_cols": list(_META),
            },
        )
        return cls(table)

    # ----------------------------------------------------------------- apply
    def apply(
        self,
        events: DataFrame,
        epoch_id: int | None = None,
        collect_lineage: bool = True,
    ) -> MergeResult:
        """Apply one change-event batch (envelope columns ``lsn``, ``op``,
        optional ``source_partition``) exactly once.

        Copy-on-write on the touched buckets: existing versions there union
        the batch, duplicate (key, lsn) frames collapse (existing row wins a
        tie — replay is a byte-level no-op), and the affected keys' interval
        chains are re-derived, so late events splice instead of dropping.
        Same fence map as ``merge_apply``: a replayed ``epoch_id`` is a
        whole-batch no-op, crash-after-commit included. Lineage counts each
        new version as inserted (or deleted, for a 'd' frame); duplicates of
        existing versions count nowhere and rows_updated stays 0.
        """
        return _apply_fenced(
            self.table,
            events,
            epoch_id,
            T.StructType(_payload_fields(events) + _META_FIELDS),
            partial(self._resolve, events),
            collect_lineage=collect_lineage,
        )

    def _resolve(
        self, events: DataFrame, schema: T.StructType, snap: dict, buckets: list[int]
    ) -> DataFrame:
        """Existing versions of the touched buckets ∪ the batch → re-chained
        intervals, each row tagged inserted/deleted if the batch added it."""
        key_cols = snap["key_cols"]
        schema_by_name = {f.name: f for f in schema.fields}
        payload_cols = [f.name for f in schema.fields if f.name not in _META]
        bucket = bucket_expr(snap["bucket_key"], snap["num_buckets"])

        def image(df: DataFrame, src: int) -> DataFrame:
            return df.select(
                *[
                    F.col(c).cast(schema_by_name[c].dataType).alias(c)
                    if c in df.columns
                    else F.lit(None).cast(schema_by_name[c].dataType).alias(c)
                    for c in payload_cols
                ],
                F.col(OP_COL),
                F.col(VALID_FROM),
                F.lit(src).alias("__src"),
                F.col("source_partition").cast("int")
                if "source_partition" in df.columns
                else F.lit(None).cast("int").alias("source_partition"),
            ).withColumn(BUCKET_COL, bucket)

        existing = image(self.table.scan(buckets, snap), src=0)
        incoming = image(events.withColumnRenamed("lsn", VALID_FROM), src=1)
        combined = existing.unionByName(incoming)

        # ONE Exchange: dup suppression (existing beats incoming on a (key,
        # lsn) tie → replay no-op; equal-src dups pick the min serialized
        # image) and the valid_to re-chain share the (key, lsn) window sort.
        img_cols = [c for c in payload_cols if c not in key_cols] + [OP_COL]
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(VALID_FROM),
            F.col("__src"),
            F.to_json(F.struct(*[F.col(c) for c in img_cols])),
        )
        out = (
            combined.withColumn(
                "__dup", F.lag(VALID_FROM).over(w) == F.col(VALID_FROM)
            )
            .filter(~F.coalesce(F.col("__dup"), F.lit(False)))
            .withColumn(
                VALID_TO,
                F.lead(VALID_FROM).over(
                    Window.partitionBy(*key_cols).orderBy(VALID_FROM)
                ),
            )
        )
        change = F.when(
            F.col("__src") == 1,
            F.when(F.col(OP_COL) == "d", "deleted").otherwise("inserted"),
        ).otherwise("unchanged")
        return out.select(
            *payload_cols, OP_COL, VALID_FROM, VALID_TO, BUCKET_COL,
            "source_partition", change.alias(CHANGE_COL),
        )

    def compact(self, files_per_bucket: int = 4,
                min_files_per_bucket: int = 4) -> dict | None:
        """Range-clustered compaction on ``valid_from_lsn``: the salted hot
        write path gives every file its bucket's full LSN range (zone maps
        can't skip); this rewrite makes each bucket's files hold disjoint
        contiguous LSN ranges, so ``state_as_of`` opens only the files whose
        interval range can overlap the asked LSN."""
        return self.table.compact(
            min_files_per_bucket=min_files_per_bucket,
            cluster_by=VALID_FROM,
            files_per_bucket=files_per_bucket,
        )

    def compact_fences(self) -> dict | None:
        """``LakeTable.compact_fences`` on the history table."""
        return self.table.compact_fences()

    def expire_versions(self, before_lsn: int) -> dict | None:
        """Retention GC: drop CLOSED versions whose validity ended at or
        before ``before_lsn`` (``valid_to_lsn <= L``). Open rows and rows
        closed after ``L`` survive, so every ``state_as_of(l)`` with
        ``l >= L`` — and the current state — is unchanged; time travel
        below the horizon becomes undefined (the point of retention).

        SPLICE CAVEAT: expiry also truncates the chains late events would
        splice into — only run it once ``before_lsn`` is at or below the
        source's max reorder horizon (the same contract as
        ``LakeTable.vacuum_tombstones``); a later event for an expired
        interval would re-chain against the surviving suffix only.

        Zone-map pruned like vacuum_tombstones: a bucket rewrites only if
        some file MAY hold an expirable row (min(valid_to_lsn) <= L; files
        without stats rewrite conservatively) — cost ∝ qualifying-bucket
        bytes, never table bytes. Returns the new snapshot or None."""
        L = int(before_lsn)

        def may_hold(entry: dict) -> bool:
            vt = (entry.get("stats") or {}).get(VALID_TO)
            # valid_to stats: NULL-only files harvest min=None → cannot
            # qualify (open rows never expire); missing stats → rewrite
            return vt is None or (vt["min"] is not None and vt["min"] <= L)

        # open rows (valid_to NULL) are never dropped
        return self.table._drop_where(
            may_hold, F.col(VALID_TO).isNotNull() & (F.col(VALID_TO) <= F.lit(L))
        )

    # ----------------------------------------------------------------- reads
    def history(self) -> DataFrame:
        return self.table.scan()

    def state_as_of(self, lsn: int) -> DataFrame:
        """Table state at LSN ``lsn`` (inclusive): the covering version of
        every key that exists there. ``valid_from_lsn <= lsn`` is pushed as
        a zone-map predicate — files whose whole interval range starts
        after ``lsn`` are never opened."""
        df = self.table.scan(filters=[(VALID_FROM, "<=", int(lsn))])
        return df.filter(
            (F.col(VALID_TO).isNull() | (F.col(VALID_TO) > F.lit(int(lsn))))
            & (F.col(OP_COL) != "d")
        ).drop(VALID_TO)

    def current_state(self) -> DataFrame:
        """Live rows now — equals the LWW merge engine's table content
        (both keep the max-lsn image per key; deletes absent)."""
        return (
            self.table.scan()
            .filter(F.col(VALID_TO).isNull() & (F.col(OP_COL) != "d"))
            .drop(VALID_TO)
        )
