"""merge_apply — fenced, copy-on-write MERGE of a change-event batch.

The Spark/lakehouse re-expression of the reference's load path
(SURVEY.md §2.3 U1/U2/U5, reference battetl/load/Loader.py:144-332):

    MERGE INTO transcripts t USING winners s
      ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
      WHEN MATCHED AND s.lsn > t._last_lsn AND s.op = 'd' THEN DELETE
      WHEN MATCHED AND s.lsn > t._last_lsn THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op != 'd' THEN INSERT *

implemented as a bucket-pruned copy-on-write plan:
  1. fence check (epoch already applied → whole batch is a no-op);
  2. schema-evolution gate (add/widen allowed, incompatible rejected,
     nothing committed on rejection);
  3. prune: only buckets containing batch keys are read & rewritten;
  4. union current rows (as pseudo-events at lsn=_last_lsn) with the events
     and take max-lsn per key in ONE map-side-combined ``max_by`` aggregate
     → batch dedup and late-event drop (lsn <= _last_lsn) in one shuffle;
  5. atomic snapshot commit carrying fence + per-partition lineage.

Steps 1, 2 and 5 (plus the envelope aggregate, lineage rows and the
CommitConflict rebase loop) are ``_apply_fenced``, the one skeleton that the
CoW and MOR merge modes, the SCD-2 history sink (battetl_spark.cdc.history)
and the conversation-stats sink (battetl_spark.cdc.stats_maintenance)
share; each supplies only its resolve. It is the only code that writes an
epoch fence.

Scale: cost ∝ (batch size + touched-bucket bytes). num_buckets is the knob —
at 100 TB with 4096 buckets a batch touching 1% of conversations reads/writes
~1 GB-scale bucket slices, never the table. All steps are Catalyst plans;
nothing iterates rows on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.cdc.dedup import lww_winners
from battetl_spark.lake.table import (
    BUCKET_COL,
    CommitConflict,
    LakeTable,
    bucket_expr,
    utc_now_iso,
)
from battetl_spark.schemas import DELETED_COL, KEY_COLS, LAST_LSN_COL

ENVELOPE_COLS = ("lsn", "op", "source_partition")
# per-row change tag a resolve step emits: inserted / updated / deleted /
# unchanged — the lineage counts group on it
CHANGE_COL = "__change"
# CommitConflict rebases an apply absorbs before it gives up
CONFLICT_RETRIES = 2


@dataclass
class MergeResult:
    applied: bool
    snapshot_id: int | None = None
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    buckets_rewritten: list[int] = field(default_factory=list)
    lineage: list[dict] = field(default_factory=list)  # per-source-partition
    # CommitConflict rebases absorbed before this merge committed — operators
    # of a multi-writer deployment watch this for contention (also recorded
    # per lineage row, so the metrics feed carries it)
    rebases: int = 0


def _payload_fields(events: DataFrame) -> list[T.StructField]:
    """An event batch's row-image columns (everything but the envelope):
    merge and history add their own bookkeeping columns to these, so one
    add/widen gate serves both sinks."""
    return [f for f in events.schema.fields if f.name not in ENVELOPE_COLS]


# ------------------------------------------------------ the shared skeleton

def _envelope_stats(slim: DataFrame) -> tuple[list[int], int, dict]:
    """(sorted bucket ids, batch max lsn, per-source-partition offsets) from
    the envelope projection (bucket, lsn[, source_partition]) in ONE collect
    job. Without a ``source_partition`` column (lineage off) the plan is the
    single map-side-combined (bucket, max lsn) aggregate and the offsets are
    empty; with it the per-partition (min, max) lsn aggregate is unioned in
    so both share the job (one collect per batch, not two)."""
    per_bucket = slim.groupBy(BUCKET_COL).agg(F.max("lsn").alias("max_lsn"))
    if "source_partition" not in slim.columns:
        rows = per_bucket.collect()
        return (
            sorted(r[0] for r in rows),
            max((r["max_lsn"] for r in rows), default=0),
            {},
        )
    rows = (
        per_bucket.select(
            F.lit(0).alias("__g"),
            F.col(BUCKET_COL).alias("__b"),
            F.lit(None).cast("int").alias("source_partition"),
            F.lit(None).cast("long").alias("min_lsn"),
            "max_lsn",
        )
        .unionByName(
            slim.groupBy("source_partition")
            .agg(F.min("lsn").alias("min_lsn"), F.max("lsn").alias("max_lsn"))
            .select(
                F.lit(1).alias("__g"),
                F.lit(None).cast(slim.schema[BUCKET_COL].dataType).alias("__b"),
                "source_partition",
                "min_lsn",
                "max_lsn",
            )
        )
        .collect()
    )
    buckets = sorted(r["__b"] for r in rows if r["__g"] == 0)
    mx = max((r["max_lsn"] for r in rows if r["__g"] == 0), default=0)
    offsets = {r["source_partition"]: r for r in rows if r["__g"] == 1}
    return buckets, mx, offsets


def _lineage_rows(
    tagged: DataFrame, offsets: dict, epoch_id: int | None, rebases: int
) -> list[dict]:
    """One lineage row per source partition: its lsn offsets plus the
    batch's change-tag counts (one groupBy(source_partition, tag) job)."""
    changes = {
        (r["source_partition"], r[CHANGE_COL]): r["n"]
        for r in tagged.filter(F.col(CHANGE_COL) != "unchanged")
        .groupBy("source_partition", CHANGE_COL)
        .agg(F.count("*").alias("n"))
        .collect()
    }
    now = utc_now_iso()
    return [
        {
            "epoch_id": -1 if epoch_id is None else int(epoch_id),
            "source_partition": sp,
            "min_lsn": off["min_lsn"],
            "max_lsn": off["max_lsn"],
            "rows_inserted": changes.get((sp, "inserted"), 0),
            "rows_updated": changes.get((sp, "updated"), 0),
            "rows_deleted": changes.get((sp, "deleted"), 0),
            "rebases": rebases,
            "committed_at": now,
        }
        for sp, off in sorted(offsets.items(), key=lambda kv: (kv[0] is None, kv[0]))
    ]


def _apply_fenced(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None,
    incoming: T.StructType,
    resolve,
    *,
    delta: bool = False,
    collect_lineage: bool,
) -> MergeResult:
    """Apply one change-event batch exactly once: the skeleton every apply
    mode shares (CoW and MOR merge, SCD-2 history, conversation stats).

    ``resolve(schema, snap, buckets)`` is the mode: it returns the rows to
    commit (BUCKET_COL included) plus, when ``collect_lineage``,
    ``source_partition`` and the CHANGE_COL tag. ``delta`` picks the
    commit: False rewrites the touched buckets (``replace_buckets``,
    conflict-detected against the scanned snapshot), True appends delta
    files (``append_delta_buckets``).

    A concurrent writer that lands on an overlapping bucket between our scan
    and our commit aborts the commit with CommitConflict; the apply then
    RE-RUNS against the fresh snapshot (up to CONFLICT_RETRIES times) —
    a rebase, never a blind re-apply. Delta appends commute with concurrent
    writers and never conflict."""
    last: CommitConflict | None = None
    for attempt in range(CONFLICT_RETRIES + 1):
        try:
            return _apply_fenced_once(
                table, events, epoch_id, incoming, resolve, delta,
                collect_lineage, rebases=attempt,
            )
        except CommitConflict as e:
            last = e  # rebase: everything re-derives from a fresh snapshot
    raise last


def _apply_fenced_once(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None,
    incoming: T.StructType,
    resolve,
    delta: bool,
    collect_lineage: bool,
    rebases: int,
) -> MergeResult:
    if epoch_id is not None and table.has_fence(epoch_id):
        return MergeResult(applied=False)

    # -- schema-evolution gate (atomic; raises cleanly on incompatibility) --
    schema = table.evolve_schema(incoming)
    snap = table.snapshot()

    # affected buckets + fence max (+ lineage offsets) from a column-pruned
    # scan of the raw batch: only the envelope reaches the shuffle
    envelope = [
        bucket_expr(snap["bucket_key"], snap["num_buckets"]).alias(BUCKET_COL),
        "lsn",
    ]
    if collect_lineage:
        envelope.append("source_partition")
    buckets, batch_max_lsn, offsets = _envelope_stats(events.select(*envelope))
    if not buckets:
        return MergeResult(applied=False)

    tagged = resolve(schema, snap, buckets)
    if collect_lineage:
        tagged = tagged.persist()  # reused by the counts + the write
    try:
        lineage = (
            _lineage_rows(tagged, offsets, epoch_id, rebases)
            if collect_lineage
            else []
        )
        fence = None
        if epoch_id is not None:
            fence = {"epoch_id": int(epoch_id), "max_lsn": int(batch_max_lsn)}
        rows = tagged.drop("source_partition", CHANGE_COL)
        if delta:
            new_snap = table.append_delta_buckets(
                rows,
                fence=fence,
                lineage=lineage,
                schema_id=snap["current_schema_id"],
            )
        else:
            new_snap = table.replace_buckets(
                rows,
                buckets,
                fence=fence,
                lineage=lineage,
                base_snapshot=snap,  # conflict-detect: abort if a concurrent
                # writer changed any of these buckets since we scanned them
            )
    finally:
        if collect_lineage:
            tagged.unpersist()
    if new_snap is None:
        # fence appeared between the top-of-function check and the commit
        # (a replayed epoch raced us): the batch was discarded — report
        # honestly; the just-written orphan files are reclaimed by
        # vacuum_files.
        return MergeResult(applied=False)
    return MergeResult(
        applied=True,
        snapshot_id=new_snap["snapshot_id"],
        rows_inserted=sum(r["rows_inserted"] for r in lineage),
        rows_updated=sum(r["rows_updated"] for r in lineage),
        rows_deleted=sum(r["rows_deleted"] for r in lineage),
        buckets_rewritten=buckets,
        lineage=[{**r, "snapshot_id": new_snap["snapshot_id"]} for r in lineage],
        rebases=rebases,
    )


# ------------------------------------------------------- CoW / MOR resolves

def _project(df: DataFrame, payload_cols, by_name, snap) -> DataFrame:
    """Event batch → evolved payload casts + envelope + bucket id."""
    return df.select(
        *[
            F.col(c).cast(by_name[c].dataType).alias(c)
            if c in df.columns
            else F.lit(None).cast(by_name[c].dataType).alias(c)
            for c in payload_cols
        ],
        F.col("lsn"),
        F.col("op"),
        F.col("source_partition"),
    ).withColumn(BUCKET_COL, bucket_expr(snap["bucket_key"], snap["num_buckets"]))


def _row_images(df, key_cols, payload_cols, by_name, dead, change) -> DataFrame:
    """Resolved events → table rows (+ source_partition, change tag).
    Deletes are written as tombstones (payload nulled, _deleted=true) so the
    delete's lsn keeps fencing later-arriving older updates."""
    return df.select(
        *[
            F.col(c)
            if c in key_cols
            else F.when(dead, F.lit(None).cast(by_name[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload_cols
        ],
        F.col("lsn").alias(LAST_LSN_COL),
        dead.alias(DELETED_COL),
        F.col(BUCKET_COL),
        F.col("source_partition"),
        change.alias(CHANGE_COL),
    )


def _resolve_cow(table, events, key_cols, schema, snap, buckets) -> DataFrame:
    """Copy-on-write: current rows of the touched buckets ∪ the events, one
    LWW winner per key in ONE key-shuffled ``max_by`` aggregation (batch
    dedup and table resolution together; max_by combines map-side, so a hot
    key costs one partial row per task)."""
    payload_cols = [f.name for f in schema.fields if not f.name.startswith("_")]
    by_name = {f.name: f for f in schema.fields}

    # current rows compete at lsn = _last_lsn; tombstones compete too
    # (op 'cd') so late updates lose to an already-applied delete.
    current = table.scan(buckets, snap, include_deleted=True).select(
        *payload_cols,
        F.col(LAST_LSN_COL).alias("lsn"),
        F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("cd"))
        .otherwise(F.lit("c"))
        .alias("op"),
        F.lit(None).cast("int").alias("source_partition"),
        bucket_expr(snap["bucket_key"], snap["num_buckets"]).alias(BUCKET_COL),
    )
    combined = current.unionByName(_project(events, payload_cols, by_name, snap))
    non_key = [c for c in combined.columns if c not in key_cols]
    # lsn ties (an event replayed at exactly the applied _last_lsn) must
    # resolve to the current row — a no-op, not a counted update.
    order = F.struct(
        F.col("lsn"), F.col("op").isin("c", "cd").cast("int").alias("__prio")
    )
    resolved = (
        combined.groupBy(*key_cols)
        .agg(
            F.max_by(F.struct(*non_key), order).alias("__w"),
            F.max(F.when(F.col("op") == "c", F.col("lsn"))).alias("__cur_lsn"),
        )
        .select(
            *key_cols,
            *[F.col(f"__w.{c}").alias(c) for c in non_key],
            F.col("__cur_lsn"),
        )
    )
    had_live = F.col("__cur_lsn").isNotNull()
    change = (
        F.when(F.col("op").isin("c", "cd"), F.lit("unchanged"))
        .when(F.col("op") == "d", F.when(had_live, "deleted").otherwise("unchanged"))
        .when(had_live, F.lit("updated"))
        .otherwise(F.lit("inserted"))
    )
    return _row_images(
        resolved, key_cols, payload_cols, by_name,
        F.col("op").isin("d", "cd"), change,
    )


def _resolve_mor(events, key_cols, schema, snap, buckets) -> DataFrame:
    """Merge-on-read: batch-local LWW winners only (one key shuffle over the
    batch, not the bucket); the resolve against existing rows is deferred to
    scan()/compact(). Winners count as inserted or deleted — classifying
    insert-vs-update would need the read MOR defers."""
    payload_cols = [f.name for f in schema.fields if not f.name.startswith("_")]
    by_name = {f.name: f for f in schema.fields}
    winners = lww_winners(_project(events, payload_cols, by_name, snap), key_cols)
    dead = F.col("op") == "d"
    return _row_images(
        winners, key_cols, payload_cols, by_name,
        dead, F.when(dead, "deleted").otherwise("inserted"),
    )


def merge_apply(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None = None,
    key_cols: list[str] | None = None,
    collect_lineage: bool = True,
    mode: str = "cow",
) -> MergeResult:
    """Apply one batch of change events to the table, exactly once.

    ``mode``:
    - ``cow`` (default): copy-on-write — read the touched buckets, resolve
      LWW against current rows, rewrite those buckets. Write cost ∝ batch +
      touched-bucket bytes; reads stay resolve-free. Lineage counts rows
      inserted, updated and deleted against the current state (late events
      and no-op deletes count nowhere).
    - ``mor``: merge-on-read — dedup the batch to one winner per key and
      APPEND the winners as delta files, never reading existing data. Write
      cost ∝ batch bytes only (the ingest-side answer when hot buckets make
      CoW rewrite amplification dominate at 100 TB); scans of delta-bearing
      buckets pay a per-key LWW resolve until ``table.compact()`` folds
      deltas into base files. Same fences/exactly-once; late events still
      lose at read time via the same (lsn, base-wins-ties) order. Lineage
      in this mode counts batch winners (upserts as rows_inserted, deletes
      as rows_deleted, rows_updated = 0): classifying insert-vs-update
      exactly would require reading current rows — the very work MOR defers.

    Both modes run ``_apply_fenced`` (fence check, schema gate, envelope
    aggregate, lineage rows, fenced commit, CommitConflict rebase up to
    CONFLICT_RETRIES times); the SCD-2 history and stats sinks run it too.

    ``epoch_id`` fences the commit: if this epoch is already in the table's
    fence map the batch is skipped entirely (idempotent replay). With
    epoch_id=None the merge still applies (ad-hoc batch mode) but has no
    replay protection.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r} (cow | mor)")
    key_cols = key_cols or KEY_COLS
    if mode == "mor":
        resolve = partial(_resolve_mor, events, key_cols)
    else:
        resolve = partial(_resolve_cow, table, events, key_cols)
    return _apply_fenced(
        table,
        events,
        epoch_id,
        T.StructType(
            _payload_fields(events) + [T.StructField(LAST_LSN_COL, T.LongType(), False)]
        ),
        resolve,
        delta=mode == "mor",
        collect_lineage=collect_lineage,
    )


def delete_where(
    table: LakeTable,
    filters: list[tuple] | None = None,
    predicate=None,
    lsn: int | None = None,
    epoch_id: int | None = None,
    key_cols: list[str] | None = None,
    **merge_kwargs,
) -> MergeResult:
    """Bulk predicate DELETE as first-class CDC: synthesize tombstone
    change events for every live row matching the predicate and route them
    through ``merge_apply``, so every invariant — LWW resolve, tombstone
    fencing of late events, epoch fences, conflict rebase, lineage —
    applies unchanged (reference analog: the hard-delete retention path a
    warehouse runs around `/root/reference/battetl/load/Loader.py`'s
    insert-only tables; no native analog, engine surface).

    ``filters`` is ``scan()``'s ``(col, op, value)`` list and reaches the
    zone maps: on a 100-TB table a ``ts``-bounded purge opens only the
    files whose range overlaps, and the synthesized events carry ONLY key
    and envelope columns with live values (payload columns are typed
    NULLs), so column pruning reaches the parquet scan too. ``predicate``
    adds an arbitrary post-scan row filter (Column) when the condition
    isn't zone-map expressible.

    ``lsn``:
    - ``None`` (default): each event deletes at ``row._last_lsn + 1`` — a
      *snapshot-conditional* delete that wins exactly over the version it
      observed and loses to any concurrently-committed newer update (that
      row survives; CDC-correct, no lost update).
    - an int: a fixed stream-aligned LSN for every event; rows whose
      ``_last_lsn >= lsn`` are NOT deleted (LWW keeps them) — the caller
      owns the ordering guarantee.

    Deletes-as-of-snapshot: rows committed by writers AFTER our scan
    pinned its file list are not candidates even if they match. The
    returned ``MergeResult.rows_deleted`` counts rows actually deleted.
    """
    key_cols = key_cols or KEY_COLS
    snap = table.snapshot()
    schema = T.StructType.fromJson(snap["schema"])
    rows = table.scan(filters=filters, snap=snap)
    if predicate is not None:
        rows = rows.filter(predicate)
    lsn_col = (
        (F.col(LAST_LSN_COL) + F.lit(1)).cast("long")
        if lsn is None
        else F.lit(int(lsn)).cast("long")
    )
    events = rows.select(
        lsn_col.alias("lsn"),
        F.lit("d").alias("op"),
        *[
            F.col(f.name).alias(f.name)
            if f.name in key_cols
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
            if not f.name.startswith("_")
        ],
        F.lit(None).cast("int").alias("source_partition"),
    )
    return merge_apply(
        table, events, epoch_id=epoch_id, key_cols=key_cols, **merge_kwargs
    )
