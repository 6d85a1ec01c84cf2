"""SCD-2 history table: batch == incremental == pandas oracle.

The merge suite pins CURRENT-state correctness; this suite pins the
full-version history (battetl_spark.cdc.history): interval chains, splice
of out-of-order batches, replay fencing, LSN time travel, and agreement of
``current_state()`` with the LWW merge engine's table.
"""

from __future__ import annotations

import tempfile
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from battetl_spark import fixtures as FX
from battetl_spark.cdc import HistoryTable, history_rows, merge_apply
from battetl_spark.cdc.history import OP_COL, VALID_FROM, VALID_TO
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    KEY_COLS,
    LAST_LSN_COL,
    TRANSCRIPT_SCHEMA,
    TRANSCRIPT_TABLE_SCHEMA,
)
from tests.conftest import assert_pdf_equal

pytestmark = pytest.mark.merge

HIST_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
             OP_COL, VALID_FROM, VALID_TO]


def pandas_history_oracle(events: pd.DataFrame) -> pd.DataFrame:
    """Ground truth: unique (key, lsn) events sorted by lsn per key;
    valid_to = next lsn for the key (NaN = open)."""
    ev = (
        events.sort_values("lsn", kind="stable")
        .drop_duplicates(subset=["conv_id", "turn_idx", "lsn"], keep="first")
        .drop(columns=["source_partition"])
    )
    ev = ev.rename(columns={"lsn": VALID_FROM})
    ev[VALID_TO] = ev.groupby(["conv_id", "turn_idx"])[VALID_FROM].shift(-1)
    return ev[HIST_COLS].reset_index(drop=True)


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[HIST_COLS].copy()
    out[VALID_TO] = out[VALID_TO].astype("float64")
    return out


@pytest.fixture(scope="module")
def events_pdf():
    return FX.make_change_events(
        seed=7, n_events=6000, n_convs=40, max_turns=10, dup_rate=0.05,
        shuffle_window=400,
    )


@pytest.fixture(scope="module")
def expected(events_pdf):
    return pandas_history_oracle(events_pdf)


def _events_df(spark, pdf):
    return FX.change_events_df(spark, pdf)


def _new_hist(spark) -> HistoryTable:
    return HistoryTable.create(
        spark,
        tempfile.mkdtemp(prefix="hist_") + "/t",
        TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS,
        num_buckets=8,
    )


def test_history_rows_batch_matches_oracle(spark, events_pdf, expected):
    got = (
        history_rows(_events_df(spark, events_pdf), KEY_COLS)
        .toPandas()
    )
    assert_pdf_equal(_norm(got), _norm(expected),
                     sort_cols=["conv_id", "turn_idx", VALID_FROM])


def test_incremental_apply_equals_batch(spark, events_pdf, expected):
    """Three batches split by lsn%3 — NOT lsn ranges, so every batch
    carries events that are late relative to prior batches for most keys;
    the splice path is exercised on nearly every key."""
    h = _new_hist(spark)
    for i, residue in enumerate((2, 0, 1)):
        batch = events_pdf[events_pdf["lsn"] % 3 == residue]
        r = h.apply(_events_df(spark, batch), epoch_id=i)
        assert r.applied
    got = h.history().toPandas()
    assert_pdf_equal(_norm(got), _norm(expected),
                     sort_cols=["conv_id", "turn_idx", VALID_FROM])


def test_replay_is_fenced_noop(spark, events_pdf):
    h = _new_hist(spark)
    batch = events_pdf[events_pdf["lsn"] % 3 == 0]
    r1 = h.apply(_events_df(spark, batch), epoch_id=10)
    assert r1.applied and r1.rows_inserted > 0
    v = h.table.snapshot()["version"]
    r2 = h.apply(_events_df(spark, batch), epoch_id=10)
    assert not r2.applied
    assert h.table.snapshot()["version"] == v


def test_unfenced_duplicate_batch_is_row_level_noop(spark, events_pdf):
    """Without an epoch fence, re-applying the same events must still leave
    the table unchanged: every (key, lsn) collapses to the existing row."""
    h = _new_hist(spark)
    batch = events_pdf[events_pdf["lsn"] <= 2000]
    h.apply(_events_df(spark, batch), epoch_id=0)
    before = _norm(h.history().toPandas()).sort_values(
        ["conv_id", "turn_idx", VALID_FROM]).reset_index(drop=True)
    r = h.apply(_events_df(spark, batch))  # no fence: row-level dedup path
    assert r.applied and r.rows_inserted == 0 and r.rows_deleted == 0
    after = _norm(h.history().toPandas()).sort_values(
        ["conv_id", "turn_idx", VALID_FROM]).reset_index(drop=True)
    pd.testing.assert_frame_equal(after, before, check_dtype=False)


def test_current_state_equals_merge_engine(spark, events_pdf):
    """The history's open non-delete rows == the LWW merge engine's final
    table, built independently over the same shuffled batches."""
    h = _new_hist(spark)
    lt = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="lww_") + "/t",
        TRANSCRIPT_TABLE_SCHEMA, num_buckets=8, key_cols=KEY_COLS,
    )
    for i, residue in enumerate((1, 2, 0)):
        batch = _events_df(spark, events_pdf[events_pdf["lsn"] % 3 == residue])
        h.apply(batch, epoch_id=i)
        merge_apply(lt, batch, epoch_id=i)
    cur = (
        h.current_state()
        .select(*[f.name for f in TRANSCRIPT_SCHEMA.fields],
                F.col(VALID_FROM).alias(LAST_LSN_COL))
        .toPandas()
    )
    lww = lt.scan().select(*cur.columns).toPandas()
    assert_pdf_equal(cur, lww, sort_cols=KEY_COLS)


def test_state_as_of_equals_prefix_replay(spark, events_pdf):
    """LSN time travel: state_as_of(L) must equal the pandas LWW replay of
    the event prefix lsn <= L, for several Ls including delete-heavy ones."""
    h = _new_hist(spark)
    for i, residue in enumerate((2, 0, 1)):
        h.apply(
            _events_df(spark, events_pdf[events_pdf["lsn"] % 3 == residue]),
            epoch_id=i,
        )
    max_lsn = int(events_pdf["lsn"].max())
    for frac in (0.25, 0.5, 0.9, 1.0):
        L = int(max_lsn * frac)
        exp = FX.pandas_oracle_replay(
            None, events_pdf[events_pdf["lsn"] <= L]
        ).drop(columns=[LAST_LSN_COL])
        got = (
            h.state_as_of(L)
            .select(*[f.name for f in TRANSCRIPT_SCHEMA.fields])
            .toPandas()
        )
        assert_pdf_equal(got, exp, sort_cols=KEY_COLS)


def test_asof_scan_skips_files_after_clustered_compaction(spark, events_pdf, expected):
    """The salted hot write gives every file its bucket's full LSN range, so
    an as-of scan opens everything; HistoryTable.compact() re-clusters each
    bucket into disjoint valid_from_lsn ranges, after which an early-LSN
    as-of scan must open strictly fewer files — with identical results."""
    h = _new_hist(spark)
    mid = int(events_pdf["lsn"].max() // 2)
    h.apply(_events_df(spark, events_pdf[events_pdf["lsn"] <= mid]), epoch_id=0)
    h.apply(_events_df(spark, events_pdf[events_pdf["lsn"] > mid]), epoch_id=1)
    L = mid // 4
    exp_state = FX.pandas_oracle_replay(
        None, events_pdf[events_pdf["lsn"] <= L]
    ).drop(columns=[LAST_LSN_COL])
    assert h.compact(files_per_bucket=4) is not None
    # history content survives compaction byte-for-byte
    assert_pdf_equal(_norm(h.history().toPandas()), _norm(expected),
                     sort_cols=["conv_id", "turn_idx", VALID_FROM])
    all_files = len(h.history().inputFiles())
    asof_files = len(
        h.table.scan(filters=[(VALID_FROM, "<=", L)]).inputFiles()
    )
    assert 0 < asof_files < all_files
    got = h.state_as_of(L).select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]).toPandas()
    assert_pdf_equal(got, exp_state, sort_cols=KEY_COLS)


def test_history_rows_plan_single_exchange(spark, events_pdf):
    """Dup suppression and the valid_to lead share one window partitioning:
    the physical plan must carry exactly ONE Exchange and ONE Sort."""
    plan = (
        history_rows(_events_df(spark, events_pdf), KEY_COLS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") == 1


def test_streaming_history_sink_crash_resume(spark, tmp_path, events_pdf, expected):
    """CdcStream maintains current-state AND SCD-2 history from one stream,
    exactly-once each. Batches arrive by lsn residue (every batch late for
    most keys → splice under streaming); an injected crash in the gap after
    the merge commit but before the history commit replays the epoch: the
    merge no-ops on its fence, the history applies — both converge to the
    batch answer."""
    from battetl_spark.streaming.pipeline import (
        CdcStream,
        read_change_event_stream,
    )

    src = str(tmp_path / "events")
    for r in range(5):  # residue files: discovery order != lsn order
        FX.change_events_df(
            spark, events_pdf[events_pdf["lsn"] % 5 == r].reset_index(drop=True)
        ).coalesce(1).write.mode("append").parquet(src)
    t = LakeTable.create(
        spark, str(tmp_path / "cur"), TRANSCRIPT_TABLE_SCHEMA,
        num_buckets=8, key_cols=KEY_COLS,
    )
    h = HistoryTable.create(
        spark, str(tmp_path / "hist"), TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS, num_buckets=8,
    )
    ckpt = str(tmp_path / "ckpt")

    crashed = {"done": False}

    def injector(epoch_id, phase):
        if epoch_id == 2 and phase == "after_merge" and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between merge and history")

    stream = CdcStream(t, ckpt, history_table=h, fail_injector=injector)
    with pytest.raises(Exception):
        stream.run_to_completion(read_change_event_stream(spark, src))
    assert crashed["done"]
    # the dangerous gap: current fenced epoch 2, history did not
    assert t.has_fence(2) and not h.table.has_fence(2)

    stream2 = CdcStream(t, ckpt, history_table=h)
    stream2.run_to_completion(read_change_event_stream(spark, src))

    got = h.history().toPandas()
    assert_pdf_equal(_norm(got), _norm(expected),
                     sort_cols=["conv_id", "turn_idx", VALID_FROM])
    cur = h.current_state().select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields],
        F.col(VALID_FROM).alias(LAST_LSN_COL),
    ).toPandas()
    lww = t.scan().select(*cur.columns).toPandas()
    assert_pdf_equal(cur, lww, sort_cols=KEY_COLS)


def test_stream_auto_compaction_keeps_history_clustering(
    spark, tmp_path, events_pdf, expected
):
    """CdcStream's auto-compaction compacts the history sink the way
    HistoryTable.compact does — each crowded bucket re-clustered into
    disjoint valid_from_lsn ranges — so after the stream an early-LSN
    as-of scan still opens fewer files than the whole history, with
    results unchanged."""
    from battetl_spark.streaming.pipeline import (
        CdcStream,
        read_change_event_stream,
    )

    src = str(tmp_path / "events")
    for r in range(4):
        FX.change_events_df(
            spark, events_pdf[events_pdf["lsn"] % 4 == r].reset_index(drop=True)
        ).coalesce(1).write.mode("append").parquet(src)
    t = LakeTable.create(
        spark, str(tmp_path / "cur"), TRANSCRIPT_TABLE_SCHEMA,
        num_buckets=4, key_cols=KEY_COLS,
    )
    h = HistoryTable.create(
        spark, str(tmp_path / "hist"), TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS, num_buckets=2,
    )
    CdcStream(
        t, str(tmp_path / "ckpt"), history_table=h, auto_compact_files=2,
    ).run_to_completion(read_change_event_stream(spark, src))

    assert_pdf_equal(_norm(h.history().toPandas()), _norm(expected),
                     sort_cols=["conv_id", "turn_idx", VALID_FROM])
    L = int(events_pdf["lsn"].max()) // 8
    all_files = len(h.history().inputFiles())
    asof_files = len(
        h.table.scan(filters=[(VALID_FROM, "<=", L)]).inputFiles()
    )
    assert 0 < asof_files < all_files
    exp_state = FX.pandas_oracle_replay(
        None, events_pdf[events_pdf["lsn"] <= L]
    ).drop(columns=[LAST_LSN_COL])
    got = h.state_as_of(L).select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]).toPandas()
    assert_pdf_equal(got, exp_state, sort_cols=KEY_COLS)


def test_expire_versions_retention(spark, events_pdf):
    """Retention GC: after expire_versions(L), every state_as_of(l >= L)
    and the current state are byte-identical; expired closed versions are
    gone; a bucket holding no expirable rows is not rewritten."""
    h = _new_hist(spark)
    for i, residue in enumerate((2, 0, 1)):
        h.apply(
            _events_df(spark, events_pdf[events_pdf["lsn"] % 3 == residue]),
            epoch_id=i,
        )
    max_lsn = int(events_pdf["lsn"].max())
    L = max_lsn // 2
    probes = [L, (L + max_lsn) // 2, max_lsn]
    before = {
        p: h.state_as_of(p).orderBy(*KEY_COLS).toPandas() for p in probes
    }
    cur_before = h.current_state().orderBy(*KEY_COLS).toPandas()
    n_before = h.history().count()

    snap = h.expire_versions(L)
    assert snap is not None
    # the expired rows are exactly the closed-by-L versions
    assert h.history().filter(
        F.col(VALID_TO).isNotNull() & (F.col(VALID_TO) <= L)
    ).count() == 0
    assert h.history().count() < n_before
    for p in probes:
        after = h.state_as_of(p).orderBy(*KEY_COLS).toPandas()
        pd.testing.assert_frame_equal(after, before[p], check_dtype=False)
    pd.testing.assert_frame_equal(
        h.current_state().orderBy(*KEY_COLS).toPandas(), cur_before,
        check_dtype=False,
    )
    # idempotent second pass: every remaining valid_to > L → zone maps
    # prove no bucket qualifies → no rewrite at all
    assert h.expire_versions(L) is None


def test_history_schema_evolution(spark, events_pdf):
    """An added payload column evolves the history schema (old versions
    read NULL); an incompatible type change is rejected atomically."""
    from battetl_spark.lake.evolution import SchemaCompatibilityError

    h = _new_hist(spark)
    b1 = events_pdf[events_pdf["lsn"] <= 2000]
    h.apply(_events_df(spark, b1), epoch_id=0)

    b2 = events_pdf[events_pdf["lsn"] > 2000].copy()
    b2["score"] = (b2["lsn"] % 97).astype("float64")
    ev2 = _events_df(spark, b2.drop(columns=["score"])).join(
        spark.createDataFrame(b2[["lsn", "score"]]), "lsn"
    )
    h.apply(ev2, epoch_id=1)
    hist = h.history()
    assert "score" in hist.columns
    got = hist.select("valid_from_lsn", "score").toPandas()
    assert got[got["valid_from_lsn"] <= 2000]["score"].isna().all()
    new = got[got["valid_from_lsn"] > 2000]
    assert (new["score"] == (new["valid_from_lsn"] % 97)).all()

    bad = _events_df(spark, events_pdf[events_pdf["lsn"] <= 100]).withColumn(
        "score", F.lit("not-a-number")
    )
    v = h.table.snapshot()["version"]
    with pytest.raises(SchemaCompatibilityError):
        h.apply(bad, epoch_id=2)
    assert h.table.snapshot()["version"] == v  # nothing committed


def test_history_rebase_after_commit_race(spark, events_pdf):
    """A history apply that loses its commit race to a rival apply on the
    same buckets rebases onto the rival's commit: the rebase is reported on
    the result and on every lineage row, and the history equals the batch
    build over both batches."""
    h = _new_hist(spark)
    half = len(events_pdf) // 2
    mine = _events_df(spark, events_pdf.iloc[:half].reset_index(drop=True))
    rival = _events_df(spark, events_pdf.iloc[half:].reset_index(drop=True))
    orig = h.table.replace_buckets
    state = {"raced": False}

    def racy(df, buckets, **kw):
        if not state["raced"]:
            state["raced"] = True  # set first: the rival apply re-enters racy
            assert h.apply(rival, epoch_id=80).applied
        return orig(df, buckets, **kw)

    h.table.replace_buckets = racy
    try:
        res = h.apply(mine, epoch_id=81)
    finally:
        h.table.replace_buckets = orig
    assert res.applied and res.rebases == 1
    assert res.lineage and all(r["rebases"] == 1 for r in res.lineage)
    expected = history_rows(_events_df(spark, events_pdf), KEY_COLS).toPandas()
    assert_pdf_equal(_norm(h.history().toPandas()), _norm(expected),
                     sort_cols=["conv_id", "turn_idx", VALID_FROM])


def test_lineage_parity_across_apply_modes(spark, tmp_path):
    """One batch with source partitions 0, 1 and NULL through CoW, MOR and
    history: all three report the same per-partition lsn offsets, and each
    counts changes as ``merge_apply`` documents — CoW against the current
    rows, MOR as batch winners, history as new versions."""
    base = pd.DataFrame(
        {
            "conv_id": ["c1", "c2"], "turn_idx": pd.Series([0, 0], dtype="int32"),
            "role": "user",
            "text": "base", "tool": None, "ts": pd.Timestamp("2026-01-01"),
        }
    )
    batch = [  # (lsn, op, conv_id, source_partition)
        (10, "u", "c1", 0),  # loses to lsn 11 on the same key
        (11, "u", "c1", 1),  # updates a live row
        (12, "d", "c2", 0),  # deletes a live row
        (13, "i", "c3", 1),  # inserts
        (14, "d", "c4", None),  # deletes a key that never existed
        (15, "i", "c5", None),  # inserts
    ]
    events = spark.createDataFrame(
        [
            {"lsn": lsn, "op": op, "conv_id": conv, "turn_idx": 0,
             "role": "user", "text": "new", "tool": None,
             "ts": datetime(2026, 1, 2), "source_partition": sp}
            for lsn, op, conv, sp in batch
        ],
        CHANGE_EVENT_SCHEMA,
    )

    def lineage_of(res):
        assert res.applied
        return {
            r["source_partition"]: (
                r["min_lsn"], r["max_lsn"],
                r["rows_inserted"], r["rows_updated"], r["rows_deleted"],
            )
            for r in res.lineage
        }

    got = {}
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, str(tmp_path / mode), TRANSCRIPT_TABLE_SCHEMA,
            num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS,
        )
        t.append(FX.table_rows_df(spark, base))
        got[mode] = lineage_of(merge_apply(t, events, epoch_id=1, mode=mode))
    got["history"] = lineage_of(_new_hist(spark).apply(events, epoch_id=1))

    offsets = {0: (10, 12), 1: (11, 13), None: (14, 15)}
    for mode, rows in got.items():
        assert {sp: v[:2] for sp, v in rows.items()} == offsets, mode
    counts = {mode: {sp: v[2:] for sp, v in rows.items()}
              for mode, rows in got.items()}
    # (inserted, updated, deleted) per source partition
    assert counts["cow"] == {0: (0, 0, 1), 1: (1, 1, 0), None: (1, 0, 0)}
    assert counts["mor"] == {0: (0, 0, 1), 1: (2, 0, 0), None: (1, 0, 1)}
    assert counts["history"] == {0: (1, 0, 1), 1: (2, 0, 0), None: (1, 0, 1)}
