"""Incrementally-maintained conversation stats (reference U2 analog:
cycle_stats overwrite-on-conflict, Loader.py:236-332, via SURVEY §7.9).

The reference recomputes per-cycle stats for the loaded file and overwrites
overlapping cycles (newest load wins). The Spark-scale analog is incremental
materialized-view maintenance:

    merge batch → affected conv_ids (already known: the winners' keys)
    → recompute rollups for ONLY those conversations from the bucket-pruned
      base table → LWW-merge into the stats table keyed by conv_id.

Cost ∝ touched conversations, never the full table — at 10^10 rows the
stats table stays current for the price of the batch's key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.analytics.rollups import conversation_stats
from battetl_spark.cdc.merge import MergeResult, _apply_fenced
from battetl_spark.lake.table import BUCKET_COL, LakeTable, bucket_expr

STATS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("max_turn_idx", T.IntegerType(), True),
        T.StructField("n_user", T.LongType(), True),
        T.StructField("n_assistant", T.LongType(), True),
        T.StructField("n_tool", T.LongType(), True),
        T.StructField("n_system", T.LongType(), True),
        T.StructField("last_ts", T.TimestampNTZType(), True),
        T.StructField("first_ts", T.TimestampNTZType(), True),
        T.StructField("last_text", T.StringType(), True),
        T.StructField("n_tool_calls", T.LongType(), True),
        T.StructField("total_chars", T.LongType(), True),
        T.StructField("_last_lsn", T.LongType(), False),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)


def create_stats_table(spark, path: str, num_buckets: int = 16) -> LakeTable:
    return LakeTable.create(
        spark, path, STATS_TABLE_SCHEMA, num_buckets=num_buckets,
        bucket_key="conv_id", key_cols=["conv_id"], sort_cols=["conv_id"],
    )


def refresh_stats(
    transcripts: LakeTable,
    stats: LakeTable,
    touched_conv_ids: DataFrame,
    epoch_id: int | None = None,
) -> MergeResult:
    """Recompute rollups for the given conversations (bucket-pruned base
    scan) and replace their rows in the stats table (U2 overwrite
    semantics — a conversation whose turns were all deleted gets a
    tombstone).

    Commits through ``merge._apply_fenced`` with the touched keys as events
    at ``lsn = 0``: a fenced ``epoch_id`` is a no-op (``applied=False``), and
    a rival stats commit on an overlapping bucket between scan and commit
    is absorbed by a rebase (``MergeResult.rebases``). Lineage is not
    collected, so the row counts stay 0."""
    keys = touched_conv_ids.select("conv_id").distinct()

    def resolve(schema, s_snap, s_buckets):
        snap = transcripts.snapshot()
        buckets = sorted(
            r[0]
            for r in keys.select(
                bucket_expr(snap["bucket_key"], snap["num_buckets"]).alias("b")
            ).distinct().collect()
        )
        base = transcripts.scan(buckets, snap).join(F.broadcast(keys), "conv_id")
        fresh = conversation_stats(base)

        current = stats.scan(s_buckets, s_snap, include_deleted=True)
        # conversations now gone entirely → tombstone rows
        gone = keys.join(fresh.select("conv_id"), "conv_id", "left_anti")
        return (
            current.join(keys, "conv_id", "left_anti")  # untouched convs carry over
            .unionByName(
                fresh.select(
                    "*",
                    F.lit(0).cast("long").alias("_last_lsn"),
                    F.lit(False).alias("_deleted"),
                ),
                allowMissingColumns=True,
            )
            .unionByName(
                gone.select(  # stats columns absent → typed NULLs
                    "conv_id",
                    F.lit(0).cast("long").alias("_last_lsn"),
                    F.lit(True).alias("_deleted"),
                ),
                allowMissingColumns=True,
            )
            .withColumn(
                BUCKET_COL, bucket_expr(s_snap["bucket_key"], s_snap["num_buckets"])
            )
        )

    return _apply_fenced(
        stats,
        keys.withColumn("lsn", F.lit(0).cast("long")),
        epoch_id,
        STATS_TABLE_SCHEMA,
        resolve,
        collect_lineage=False,
    )
