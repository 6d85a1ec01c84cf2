"""End-to-end batch merge vs pandas oracle replay (FIXTURES.md F1-F3).

Mirrors the reference's load-layer tests: idempotent re-load inserts 0 rows
(tests/test_Loader.py:341-343), incremental append beyond watermark (345-359),
LWW overwrite of overlaps (417-434).
"""

from __future__ import annotations

import numpy as np
import pytest

from battetl_spark import fixtures as FX
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import KEY_COLS, LAST_LSN_COL, TRANSCRIPT_TABLE_SCHEMA
from tests.conftest import assert_pdf_equal

pytestmark = pytest.mark.merge

ALL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", LAST_LSN_COL]


@pytest.fixture(scope="module")
def base_pdf():
    return FX.make_transcripts(seed=42, n_convs=60, max_turns=12)


@pytest.fixture(scope="module")
def events_pdf():
    return FX.make_change_events(
        seed=43, n_events=5000, n_convs=80, max_turns=12, dup_rate=0.03
    )


def seeded_table(spark, tmpdir, base_pdf, num_buckets=8) -> LakeTable:
    t = LakeTable.create(
        spark,
        str(tmpdir / "transcripts"),
        TRANSCRIPT_TABLE_SCHEMA,
        num_buckets=num_buckets,
        bucket_key="conv_id",
        key_cols=KEY_COLS,
        sort_cols=KEY_COLS,
    )
    t.append(FX.table_rows_df(spark, base_pdf))
    return t


def table_state(t: LakeTable):
    return (
        t.scan()
        .orderBy(*KEY_COLS)
        .toPandas()[ALL_COLS]
        .reset_index(drop=True)
    )


def test_one_shot_batch_apply_matches_oracle(spark, tmp_path, base_pdf, events_pdf):
    t = seeded_table(spark, tmp_path, base_pdf)
    res = merge_apply(t, FX.change_events_df(spark, events_pdf), epoch_id=1)
    assert res.applied
    expected = FX.pandas_oracle_replay(base_pdf, events_pdf)
    assert_pdf_equal(table_state(t), expected, KEY_COLS)
    # lineage sanity: applied counts match the diff the oracle implies
    lin = t.lineage_df().toPandas()
    assert lin["rows_inserted"].sum() == res.rows_inserted
    assert (
        res.rows_inserted + len(base_pdf) - res.rows_deleted == len(expected)
    )


@pytest.mark.parametrize("k", [1, 7])
def test_microbatched_apply_matches_oracle(spark, tmp_path, base_pdf, events_pdf, k):
    """K-microbatch apply (arrival order!) must equal the one-shot result —
    cross-batch late events are no-ops via _last_lsn (FIXTURES.md F3)."""
    t = seeded_table(spark, tmp_path / f"k{k}", base_pdf)
    chunks = np.array_split(events_pdf, k)  # arrival order incl. out-of-order lsn
    for i, chunk in enumerate(chunks):
        merge_apply(t, FX.change_events_df(spark, chunk.reset_index(drop=True)), epoch_id=i)
    expected = FX.pandas_oracle_replay(base_pdf, events_pdf)
    assert_pdf_equal(table_state(t), expected, KEY_COLS)


def test_many_microbatches_k64(spark, tmp_path, base_pdf):
    """K=64 tiny batches (FIXTURES.md F3 upper bound) — batch-boundary
    independence at the extreme; reduced event count keeps it fast."""
    events = FX.make_change_events(
        seed=44, n_events=640, n_convs=70, max_turns=12, dup_rate=0.05
    )
    t = seeded_table(spark, tmp_path / "k64", base_pdf, num_buckets=4)
    for i, chunk in enumerate(np.array_split(events, 64)):
        merge_apply(
            t, FX.change_events_df(spark, chunk.reset_index(drop=True)),
            epoch_id=i, collect_lineage=False,
        )
    expected = FX.pandas_oracle_replay(base_pdf, events)
    assert_pdf_equal(table_state(t), expected, KEY_COLS)


def test_idempotent_replay_same_epoch_is_noop(spark, tmp_path, base_pdf, events_pdf):
    t = seeded_table(spark, tmp_path, base_pdf)
    df = FX.change_events_df(spark, events_pdf)
    r1 = merge_apply(t, df, epoch_id=1)
    v1 = t.snapshot()["version"]
    r2 = merge_apply(t, df, epoch_id=1)  # replay of committed epoch
    assert r1.applied and not r2.applied
    assert t.snapshot()["version"] == v1
    expected = FX.pandas_oracle_replay(base_pdf, events_pdf)
    assert_pdf_equal(table_state(t), expected, KEY_COLS)


def test_late_and_duplicate_events_are_noops(spark, tmp_path, base_pdf, events_pdf):
    """Re-applying the same events under a NEW epoch changes nothing:
    every event lsn <= the applied _last_lsn per key."""
    t = seeded_table(spark, tmp_path, base_pdf)
    df = FX.change_events_df(spark, events_pdf)
    merge_apply(t, df, epoch_id=1)
    before = table_state(t)
    r = merge_apply(t, df, epoch_id=2)
    assert r.rows_inserted == 0 and r.rows_updated == 0 and r.rows_deleted == 0
    assert_pdf_equal(table_state(t), before, KEY_COLS)


def test_delete_then_reinsert(spark, tmp_path, base_pdf):
    import pandas as pd

    t = seeded_table(spark, tmp_path, base_pdf)
    key = dict(conv_id="conv-000000", turn_idx=np.int32(0))
    ev = pd.DataFrame(
        [
            {**key, "lsn": 10, "op": "d", "role": None, "text": None, "tool": None,
             "ts": pd.Timestamp("2026-02-01"), "source_partition": 0},
            {**key, "lsn": 20, "op": "i", "role": "user", "text": "reborn", "tool": None,
             "ts": pd.Timestamp("2026-02-02"), "source_partition": 0},
        ]
    )
    merge_apply(t, FX.change_events_df(spark, ev), epoch_id=1)
    expected = FX.pandas_oracle_replay(base_pdf, ev)
    assert_pdf_equal(table_state(t), expected, KEY_COLS)
    row = expected[(expected.conv_id == "conv-000000") & (expected.turn_idx == 0)]
    assert row.text.iloc[0] == "reborn" and row[LAST_LSN_COL].iloc[0] == 20


def test_only_touched_buckets_rewritten(spark, tmp_path, base_pdf):
    import pandas as pd

    t = seeded_table(spark, tmp_path, base_pdf, num_buckets=16)
    files_before = dict(t.snapshot()["files"])
    ev = pd.DataFrame(
        [{"conv_id": "conv-000001", "turn_idx": np.int32(0), "lsn": 5, "op": "u",
          "role": "user", "text": "touched", "tool": None,
          "ts": pd.Timestamp("2026-02-01"), "source_partition": 0}]
    )
    res = merge_apply(t, FX.change_events_df(spark, ev), epoch_id=1)
    assert len(res.buckets_rewritten) == 1
    files_after = t.snapshot()["files"]
    untouched = [b for b in files_before if int(b) not in res.buckets_rewritten]
    assert untouched and all(files_before[b] == files_after[b] for b in untouched)


def test_envelope_stats_matches_separate_aggregates(spark):
    """The one envelope collect must report exactly what two plain
    aggregates report: affected buckets + batch max lsn, and per-source-
    partition lsn offsets — including a NULL source_partition. Without a
    source_partition column (lineage off) it reports buckets + max only."""
    import pandas as pd
    from pyspark.sql import functions as F

    from battetl_spark.cdc import merge as M

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c2", "c3", "c4", "c1"],
            "lsn": [10, 20, 5, 7, 30],
            "source_partition": [0, 1, 0, None, 1],
        }
    )
    ev = spark.createDataFrame(pdf).withColumn(
        "source_partition", F.col("source_partition").cast("int")
    )
    slim = ev.select(
        M.bucket_expr("conv_id", 8).alias(M.BUCKET_COL),
        "lsn",
        "source_partition",
    )
    per_bucket = slim.groupBy(M.BUCKET_COL).agg(F.max("lsn").alias("mx")).collect()
    ref_buckets = sorted(r[0] for r in per_bucket)
    ref_mx = max(r["mx"] for r in per_bucket)
    ref_off = {
        r["source_partition"]: (r["lo"], r["hi"])
        for r in ev.groupBy("source_partition")
        .agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi"))
        .collect()
    }
    assert None in ref_off and ref_mx == 30

    buckets, mx, offsets = M._envelope_stats(slim)
    assert buckets == ref_buckets and mx == ref_mx
    assert {
        sp: (o["min_lsn"], o["max_lsn"]) for sp, o in offsets.items()
    } == ref_off

    b2, mx2, off2 = M._envelope_stats(slim.select(M.BUCKET_COL, "lsn"))
    assert b2 == ref_buckets and mx2 == ref_mx and off2 == {}
