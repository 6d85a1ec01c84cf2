"""CDC / incremental-load operator family (SURVEY §2.3, reference Loader.py).

Moved verbatim from __spark_entry__.py (round 5: the query surface split
by family so per-query driver plan-build cost attributes to one module).
Each docstring cites its reference analog file:line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from battetl_spark.queries._shared import _scratch, _t


def q_lww_latest_per_key(spark, sf):
    """U1/U2: last-writer-wins winner per key by ordering column
    (reference Loader.py:236-332 overwrite semantics). agg+max_by keeps the
    reduction map-side combinable (skew-safe) vs a window sort."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.max("event_id").alias("last_event_id"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.round(F.max_by("value", "event_id"), 6).alias("last_value"),
        F.max_by("ts", "event_id").alias("last_ts"),
    )


def q_cdc_replay(spark, sf):
    """Full LWW replay with delete ops: event_type='error' acts as a delete
    tombstone for the key; final live state only (engine semantics of
    battetl_spark.cdc.merge, oracle-expressible)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    last = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return last.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 6).alias("last_value"),
    )


def q_watermark_filter(spark, sf):
    """U1: high-watermark append — only rows above MAX/2 watermark survive
    (reference Loader.py:174-180, watermark lookup 1090-1100)."""
    ev = _t(spark, sf, "events")
    wm = ev.agg((F.max("event_id") / 2.0).alias("wm"))
    return (
        ev.crossJoin(F.broadcast(wm))
        .filter(F.col("event_id") > F.col("wm"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_new"), F.min("event_id").alias("first_new_id"))
    )


def q_dim_upsert_keys(spark, sf):
    """U3: lookup-or-insert dim keys with deterministic surrogate ids
    (reference Loader.py:526-1008; serial RETURNING → md5 natural-key hash)."""
    ev = _t(spark, sf, "events")
    return (
        ev.select("user_id", "event_type")
        .distinct()
        .select(
            "user_id",
            "event_type",
            F.md5(
                F.concat_ws("|", F.col("user_id").cast("string"), "event_type")
            ).alias("surrogate_id"),
        )
    )


def q_minmax_meta_refresh(spark, sf):
    """U4: post-load meta refresh — first/last recorded datetime per test
    (reference Loader.py:1245-1281)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_recorded"),
        F.max("ts").alias("last_recorded"),
        F.count("*").alias("n_rows"),
    )


def q_anti_join_new_keys(spark, sf):
    """J4: dedup anti-join — incoming (user, hour) slots not already in the
    table (reference Loader.py:174-180 re-load inserts 0 rows). Keyed on
    (user_id, hour) with a 99% watermark so the tail contains genuinely new
    slots and the green row carries information (round-1 shape was vacuous:
    every user existed on both sides)."""
    ev = _t(spark, sf, "events")
    wm = ev.agg((F.max("event_id") * 0.99).alias("wm"))
    hour = F.date_trunc("hour", F.col("ts")).alias("bucket_hour")
    existing = (
        ev.crossJoin(F.broadcast(wm))
        .filter(F.col("event_id") <= F.col("wm"))
        .select("user_id", hour)
        .distinct()
    )
    incoming = (
        ev.crossJoin(F.broadcast(wm))
        .filter(F.col("event_id") > F.col("wm"))
        .select("user_id", hour)
        .distinct()
    )
    return incoming.join(existing, ["user_id", "bucket_hour"], "left_anti")


def _history_events(spark, sf):
    """events table recast as a change-event stream: lsn = event_id,
    'error' rows act as deletes (the same convention q_cdc_replay pins)."""
    ev = _t(spark, sf, "events")
    return ev.select(
        "user_id",
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
        "event_type",
        "value",
        "ts",
    )


def _history_out(hist):
    return hist.select(
        "user_id",
        "op",
        "event_type",
        F.round("value", 6).alias("value"),
        "ts",
        "valid_from_lsn",
        "valid_to_lsn",
    )


def q_cdc_history(spark, sf):
    """SCD-2 versioned history (battetl_spark.cdc.history_rows): every event
    becomes a row valid over [event_id, next event_id for the key) — the
    full-audit complement of q_cdc_replay's current state. Dup suppression
    and the valid_to re-chain share ONE window Exchange (plan-pinned in
    tests/test_history.py)."""
    from battetl_spark.cdc.history import history_rows

    return _history_out(history_rows(_history_events(spark, sf), ["user_id"]))


def q_cdc_history_incremental(spark, sf):
    """The same history built INCREMENTALLY through a persisted HistoryTable:
    three batches split by lsn%3 — every batch is late relative to the prior
    ones for most keys, so interval chains re-splice on each apply (CoW on
    touched buckets + epoch fences). Must equal the batch oracle exactly."""
    from pyspark.sql import types as T

    from battetl_spark.cdc.history import HistoryTable

    ev = _history_events(spark, sf).withColumn(
        "source_partition", F.lit(0).cast("int")
    )
    payload = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
        ]
    )
    h = HistoryTable.create(
        spark,
        _scratch("hist_incr_") + "/t",
        payload,
        key_cols=["user_id"],
        num_buckets=8,
    )
    for i, residue in enumerate((2, 0, 1)):
        # the output never reads lineage: skip its persist + counts job
        h.apply(
            ev.filter(F.pmod(F.col("lsn"), F.lit(3)) == residue), epoch_id=i,
            collect_lineage=False,
        )
    return _history_out(h.history())


def q_cdc_asof_state(spark, sf):
    """LSN time travel: table state at the half-way watermark, read off the
    history's validity intervals (one interval predicate — no replay). The
    oracle reconstructs the same state the independent way: per-key argmax
    over the event prefix."""
    from battetl_spark.cdc.history import history_rows

    ev = _history_events(spark, sf)
    wm = ev.agg(F.expr("max(lsn) div 2").alias("wm"))
    hist = history_rows(ev, ["user_id"])
    return (
        hist.crossJoin(F.broadcast(wm))
        .filter(
            (F.col("valid_from_lsn") <= F.col("wm"))
            & (F.col("valid_to_lsn").isNull() | (F.col("valid_to_lsn") > F.col("wm")))
            & (F.col("op") != "d")
        )
        .select(
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
            "ts",
            F.col("valid_from_lsn").alias("state_event_id"),
        )
    )
