"""Multi-writer safety of the snapshot commit protocol (round-2 hardening).

The optimistic commit retries on version collisions; these tests pin that a
retry is NOT a blind re-apply: data computed from a stale scan must abort
with CommitConflict when its buckets changed underneath, while disjoint
writers still compose. Also pins the fence-race no-op reporting and the
NULL-bucket-key behavior (xxhash64(NULL) = seed, a real bucket — never a
__HIVE_DEFAULT_PARTITION__ row), and that a writer dying at either commit
boundary (inside the root write, or between the root and the hint swap)
never wedges the table.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from battetl_spark import fixtures as FX
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable
from battetl_spark.lake.table import BUCKET_COL, CommitConflict, bucket_expr
from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA

pytestmark = pytest.mark.lake


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TRANSCRIPT_TABLE_SCHEMA,
        num_buckets=8,
        bucket_key="conv_id",
        key_cols=KEY_COLS,
        sort_cols=KEY_COLS,
    )
    t.append(FX.table_rows_df(spark, FX.make_transcripts(seed=5, n_convs=40, max_turns=6)))
    return t


def _rows_of(table, buckets, snap):
    return table.scan(buckets, snap, include_deleted=True).withColumn(
        BUCKET_COL, bucket_expr(snap["bucket_key"], snap["num_buckets"])
    )


def test_stale_overlapping_writer_conflicts(spark, table):
    base = table.snapshot()
    some_buckets = sorted(int(b) for b in base["files"])[:2]
    stale_rows = _rows_of(table, some_buckets, base)

    # a faster writer lands a merge touching those buckets first
    ev = FX.make_change_events(seed=6, n_events=800, n_convs=40, max_turns=6)
    assert merge_apply(table, FX.change_events_df(spark, ev), epoch_id=1).applied
    winner_state = table.scan().toPandas()

    # the slow writer retries with data computed from the stale scan → abort
    with pytest.raises(CommitConflict):
        table.replace_buckets(stale_rows, some_buckets, base_snapshot=base)
    # the winner's committed rows are intact
    assert table.scan().toPandas().equals(winner_state)


def test_disjoint_bucket_writers_compose(spark, table):
    base = table.snapshot()
    buckets = sorted(int(b) for b in base["files"])
    first, second = [buckets[0]], [buckets[-1]]
    rows_a = _rows_of(table, first, base).withColumn("role", F.lit("rewritten-a"))
    rows_b = _rows_of(table, second, base).withColumn("role", F.lit("rewritten-b"))
    # both computed from the SAME base; they touch disjoint buckets
    assert table.replace_buckets(rows_a, first, base_snapshot=base) is not None
    assert table.replace_buckets(rows_b, second, base_snapshot=base) is not None
    roles = {r["role"] for r in table.scan().select("role").distinct().collect()}
    assert {"rewritten-a", "rewritten-b"} <= roles


def test_fence_race_reports_not_applied(spark, table):
    ev = FX.make_change_events(seed=7, n_events=500, n_convs=40, max_turns=6)
    events = FX.change_events_df(spark, ev)
    assert merge_apply(table, events, epoch_id=42).applied
    v = table.snapshot()["version"]

    # simulate the race: the fence exists but the caller bypasses the
    # top-of-function has_fence check by calling replace_buckets directly
    base = table.snapshot()
    buckets = sorted(int(b) for b in base["files"])[:1]
    rows = _rows_of(table, buckets, base)
    out = table.replace_buckets(
        rows, buckets, fence={"epoch_id": 42, "max_lsn": 0}, base_snapshot=base
    )
    assert out is None  # fenced → no commit
    assert table.snapshot()["version"] == v

    # and through merge_apply the replayed epoch reports applied=False
    res = merge_apply(table, events, epoch_id=42)
    assert not res.applied and table.snapshot()["version"] == v


def test_concurrent_schema_evolution_does_not_retag_files(spark, table):
    import pyspark.sql.types as T

    base = table.snapshot()
    buckets = sorted(int(b) for b in base["files"])[:1]
    rows = _rows_of(table, buckets, base)
    # writer B evolves the schema after A scanned (adds a column; A's buckets
    # are untouched, so A must still commit — tagged with A's BASE schema id)
    incoming = T.StructType(
        list(T.StructType.fromJson(base["schema"]).fields)
        + [T.StructField("extra_col", T.StringType(), True)]
    )
    table.evolve_schema(incoming)
    new_sid = table.snapshot()["current_schema_id"]
    assert new_sid != base["current_schema_id"]

    snap = table.replace_buckets(rows, buckets, base_snapshot=base)
    for b in buckets:
        for e in snap["files"][str(b)]:
            assert e["schema_id"] == base["current_schema_id"]
    # reads harmonize: the old-schema files surface extra_col as NULL
    assert table.scan().filter(F.col("extra_col").isNotNull()).count() == 0


def test_merge_rebase_counter_exposed(spark, table):
    """A merge that loses a commit race rebases and reports HOW MANY times
    (MergeResult.rebases + per-lineage-row), so multi-writer contention is
    observable in the metrics feed."""
    events = FX.change_events_df(
        spark, FX.make_change_events(seed=8, n_events=600, n_convs=40, max_turns=6)
    )
    rival = FX.change_events_df(
        spark, FX.make_change_events(seed=9, n_events=600, n_convs=40, max_turns=6)
    )
    orig = table.replace_buckets
    state = {"raced": False}

    def racy(df, buckets, **kw):
        if not state["raced"]:
            state["raced"] = True  # set first: the rival merge re-enters racy
            assert merge_apply(table, rival, epoch_id=70).applied
        return orig(df, buckets, **kw)

    table.replace_buckets = racy
    try:
        res = merge_apply(table, events, epoch_id=71)
    finally:
        table.replace_buckets = orig
    assert res.applied and res.rebases == 1
    assert res.lineage and all(r["rebases"] == 1 for r in res.lineage)
    ldf = table.lineage_df().toPandas()
    assert (ldf[ldf.epoch_id == 71].rebases == 1).all()
    assert (ldf[ldf.epoch_id == 70].rebases == 0).all()


def test_null_bucket_key_lands_in_real_bucket(spark, tmp_path):
    """ADVICE regression probe: xxhash64(NULL) is the seed (42), never NULL,
    so NULL keys hash to a real bucket and stay scannable/compactable."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("cycle", T.IntegerType(), True),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "n"), schema, num_buckets=8,
        bucket_key="cycle", key_cols=["cycle"],
    )
    df = spark.createDataFrame([(None, 1.0), (3, 2.0)], schema)
    t.append(df)
    snap = t.snapshot()
    assert all(b.isdigit() for b in snap["files"]), snap["files"].keys()
    assert t.scan().count() == 2
    assert t.scan().filter(F.col("cycle").isNull()).count() == 1
    # maintenance paths accept the table (int(b) never raises)
    t.compact(min_files_per_bucket=1)
    assert t.scan().count() == 2


def test_racing_appends_both_land(spark, table):
    """Two writers appending concurrently: appends never conflict, so both
    commits must land through the optimistic retry (no lost update, no
    CommitConflict), and every row survives."""
    import threading

    before = table.scan().count()
    pdfs = [
        FX.make_transcripts(seed=100 + i, n_convs=10, max_turns=4) for i in range(2)
    ]
    # pre-materialize DataFrames on the main thread (py4j is thread-safe for
    # actions; building from pandas concurrently is too, but keep it simple)
    dfs = [FX.table_rows_df(spark, p) for p in pdfs]
    errors = []

    def run(df):
        try:
            table.append(df)
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)

    threads = [threading.Thread(target=run, args=(d,)) for d in dfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert table.scan().count() == before + sum(len(p) for p in pdfs)
    # both commits produced distinct versions (serialized by the retry loop)
    assert table.snapshot()["version"] >= 4


def test_racing_compaction_vs_merge_never_loses_rows(spark, table):
    """Compaction racing a merge: either both serialize cleanly or the
    compaction aborts with CommitConflict — in every outcome the merged rows
    are present afterwards (compaction can lose the race, never the data)."""
    import threading

    ev = FX.make_change_events(seed=8, n_events=1500, n_convs=40, max_turns=6)
    events = FX.change_events_df(spark, ev)
    exc: list = []

    def compact():
        try:
            table.compact(min_files_per_bucket=1)
        except CommitConflict:
            pass  # legitimate: lost the race to the merge
        except Exception as e:  # pragma: no cover
            exc.append(e)

    def merge():
        try:
            merge_apply(table, events, epoch_id=77)
        except Exception as e:  # pragma: no cover
            exc.append(e)

    t1, t2 = threading.Thread(target=compact), threading.Thread(target=merge)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert exc == []
    # the merge's effect is present: replaying epoch 77 is a fence no-op
    assert table.has_fence(77)
    res = merge_apply(table, events, epoch_id=77)
    assert not res.applied


@pytest.mark.parametrize("crash", ["in_root_write", "before_hint_swap"])
def test_crash_at_commit_boundary_never_wedges_table(spark, table, monkeypatch, crash):
    """The snapshot root is the commit point. A writer that dies while
    writing the root has committed nothing; one that dies after publishing
    it but before swapping version-hint.txt has committed. Either way a
    restarted writer sees exactly the committed state — also after vacuum
    drops the root a lagging hint names — its next commit lands, and every
    retained root still parses."""
    before_version, before_rows = table.snapshot()["version"], table.scan().count()
    crashed = FX.table_rows_df(spark, FX.make_transcripts(seed=90, n_convs=6, max_turns=3))
    n_crashed = crashed.count()
    real_dump, real_replace = json.dump, os.replace

    def torn_root(obj, f, *a, **k):
        if "manifests_inv" not in obj:  # a manifest: written whole
            return real_dump(obj, f, *a, **k)
        f.write(json.dumps(obj)[:16])
        raise OSError("crash while writing the snapshot root")

    def lost_hint(src, dst):
        if os.path.basename(dst) == "version-hint.txt":
            raise OSError("crash before the hint swap")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        if crash == "in_root_write":
            m.setattr(json, "dump", torn_root)
        else:
            m.setattr(os, "replace", lost_hint)
        for _ in range(2):  # twice in a row: a hint can lag two roots
            with pytest.raises(OSError):
                table.append(crashed)

    landed = 2 if crash == "before_hint_swap" else 0
    restarted = LakeTable.load(spark, table.path)
    assert restarted.snapshot()["version"] == before_version + landed
    restarted.vacuum_files(keep_snapshots=1)
    assert restarted.snapshot()["version"] == before_version + landed
    assert restarted.scan().count() == before_rows + landed * n_crashed
    restarted.tag("after-crash")  # pins the version it found current
    assert restarted.snapshot()["version"] == before_version + landed + 1
    assert restarted.tags() == {"after-crash": before_version + landed}
    assert [r["version"] for r in restarted._roots()][-1] == before_version + landed + 1
