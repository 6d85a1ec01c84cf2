"""Incremental stats maintenance equals full recompute (U2 overwrite analog)."""

from __future__ import annotations

import numpy as np
import pytest

from battetl_spark import fixtures as FX
from battetl_spark.analytics.rollups import conversation_stats
from battetl_spark.cdc import merge_apply
from battetl_spark.cdc.dedup import lww_winners
from battetl_spark.cdc.stats_maintenance import create_stats_table, refresh_stats
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA
from tests.conftest import assert_pdf_equal

pytestmark = pytest.mark.lake

STATS_COLS = [
    "conv_id", "n_turns", "max_turn_idx", "n_user", "n_assistant", "n_tool",
    "n_system", "last_ts", "first_ts", "last_text", "n_tool_calls", "total_chars",
]


def test_incremental_stats_equals_full_recompute(spark, tmp_path):
    base = FX.make_transcripts(seed=21, n_convs=30, max_turns=8)
    events = FX.make_change_events(seed=22, n_events=2000, n_convs=40, max_turns=8)
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=8, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    t.append(FX.table_rows_df(spark, base))
    stats = create_stats_table(spark, str(tmp_path / "stats"), num_buckets=4)
    # seed stats for the base table
    refresh_stats(t, stats, t.scan().select("conv_id").distinct(), epoch_id=100)

    for i, ch in enumerate(np.array_split(events, 3)):
        df = FX.change_events_df(spark, ch.reset_index(drop=True))
        merge_apply(t, df, epoch_id=i)
        touched = lww_winners(df).select("conv_id")
        refresh_stats(t, stats, touched, epoch_id=200 + i)

    got = (
        stats.scan().orderBy("conv_id").toPandas()[STATS_COLS].reset_index(drop=True)
    )
    full = conversation_stats(t.scan()).toPandas()[STATS_COLS].reset_index(drop=True)
    assert_pdf_equal(got, full, ["conv_id"])


def test_fully_deleted_conversation_leaves_stats_tombstone(spark, tmp_path):
    import pandas as pd

    base = FX.make_transcripts(seed=23, n_convs=3, max_turns=2)
    t = LakeTable.create(spark, str(tmp_path / "t2"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=2, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    t.append(FX.table_rows_df(spark, base))
    stats = create_stats_table(spark, str(tmp_path / "s2"), num_buckets=2)
    refresh_stats(t, stats, t.scan().select("conv_id").distinct())

    victim = base[base.conv_id == "conv-000000"]
    ev = pd.DataFrame(
        [
            {"lsn": 10 + i, "op": "d", "conv_id": r.conv_id,
             "turn_idx": np.int32(r.turn_idx), "role": None, "text": None,
             "tool": None, "ts": pd.Timestamp("2026-02-01"),
             "source_partition": np.int32(0)}
            for i, r in enumerate(victim.itertuples(index=False))
        ]
    )
    df = FX.change_events_df(spark, ev)
    merge_apply(t, df, epoch_id=1)
    refresh_stats(t, stats, lww_winners(df).select("conv_id"), epoch_id=2)
    live = stats.scan().filter("conv_id = 'conv-000000'").count()
    assert live == 0
    assert stats.scan().count() == 2  # other convs intact


def test_stats_rebase_after_commit_race(spark, tmp_path):
    """A stats refresh that loses its commit race to a rival refresh (another
    epoch, overlapping conversations) rebases onto the rival's commit
    instead of failing, and the stats equal a full recompute."""
    base = FX.make_transcripts(seed=24, n_convs=12, max_turns=4)
    t = LakeTable.create(spark, str(tmp_path / "t3"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    t.append(FX.table_rows_df(spark, base))
    stats = create_stats_table(spark, str(tmp_path / "s3"), num_buckets=2)
    convs = t.scan().select("conv_id").distinct()
    orig = stats.replace_buckets
    state = {"raced": False}

    def racy(df, buckets, **kw):
        if not state["raced"]:
            state["raced"] = True  # set first: the rival refresh re-enters racy
            refresh_stats(t, stats, convs.limit(6), epoch_id=1)
        return orig(df, buckets, **kw)

    stats.replace_buckets = racy
    try:
        res = refresh_stats(t, stats, convs, epoch_id=2)
    finally:
        stats.replace_buckets = orig
    assert res.applied and res.rebases == 1
    assert stats.has_fence(1) and stats.has_fence(2)
    got = stats.scan().orderBy("conv_id").toPandas()[STATS_COLS].reset_index(drop=True)
    full = conversation_stats(t.scan()).toPandas()[STATS_COLS].reset_index(drop=True)
    assert_pdf_equal(got, full, ["conv_id"])
