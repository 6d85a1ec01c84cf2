"""Table maintenance: compaction, tombstone vacuum, file GC."""

from __future__ import annotations

import pytest

import glob
import os

import numpy as np
import pandas as pd

from battetl_spark import fixtures as FX
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA
from tests.conftest import assert_pdf_equal

pytestmark = pytest.mark.lake

ALL = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_last_lsn"]


def build(spark, tmp_path, n_batches=4):
    base = FX.make_transcripts(seed=11, n_convs=30, max_turns=6)
    events = FX.make_change_events(seed=12, n_events=1500, n_convs=40, max_turns=6)
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    t.append(FX.table_rows_df(spark, base))
    for i, ch in enumerate(np.array_split(events, n_batches)):
        merge_apply(t, FX.change_events_df(spark, ch.reset_index(drop=True)), epoch_id=i)
    return t, FX.pandas_oracle_replay(base, events)


def state(t):
    return t.scan().orderBy(*KEY_COLS).toPandas()[ALL].reset_index(drop=True)


def test_compact_preserves_state(spark, tmp_path):
    t, expected = build(spark, tmp_path)
    before = t.snapshot()["files"]
    before_files = sum(len(v) for v in before.values())
    snap = t.compact(min_files_per_bucket=2)
    assert snap is not None
    after = t.snapshot()["files"]
    after_files = sum(len(v) for v in after.values())
    assert after_files < before_files
    for b, entries in before.items():
        if len(entries) >= 2:
            assert len(after[b]) == 1  # a rewritten bucket: one file
        else:
            assert after[b] == entries  # an uncrowded bucket: carried over
    assert_pdf_equal(state(t), expected, KEY_COLS)


def test_vacuum_tombstones_keeps_live_rows_and_fencing(spark, tmp_path):
    t, expected = build(spark, tmp_path)
    dead_before = t.scan(include_deleted=True).filter("_deleted").count()
    assert dead_before > 0
    t.vacuum_tombstones(below_lsn=10_000)  # horizon beyond all lsns
    assert t.scan(include_deleted=True).filter("_deleted").count() == 0
    assert_pdf_equal(state(t), expected, KEY_COLS)


def test_scan_zone_map_file_skipping(spark, tmp_path):
    """Per-file min/max stats must let a bounded scan skip whole files:
    two appends with disjoint _last_lsn / ts ranges → an lsn- or ts-bounded
    scan opens strictly fewer files than the table total, with exact rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    base = FX.make_transcripts(seed=7, n_convs=40, max_turns=5)
    half = len(base) // 2
    for lo, hi, ts0 in ((0, half, "2026-01-01"), (half, len(base), "2026-06-01")):
        pdf = base.iloc[lo:hi].reset_index(drop=True).copy()
        pdf["_last_lsn"] = np.arange(lo + 1, hi + 1, dtype=np.int64)
        pdf["_deleted"] = False
        pdf["ts"] = pd.Timestamp(ts0) + pd.to_timedelta(np.arange(hi - lo), "s")
        cols = [f.name for f in TRANSCRIPT_TABLE_SCHEMA.fields]  # positional
        t.append(spark.createDataFrame(pdf[cols], TRANSCRIPT_TABLE_SCHEMA))

    snap = t.snapshot()
    assert all(
        "stats" in e and "_last_lsn" in e["stats"] and "ts" in e["stats"]
        for entries in snap["files"].values() for e in entries
    )
    total_files = len(t.scan().inputFiles())

    lsn_scan = t.scan(filters=[("_last_lsn", ">", half)])
    assert 0 < len(lsn_scan.inputFiles()) < total_files  # files skipped
    assert lsn_scan.count() == len(base) - half

    import datetime
    ts_scan = t.scan(filters=[("ts", ">=", datetime.datetime(2026, 6, 1))])
    assert 0 < len(ts_scan.inputFiles()) < total_files
    assert ts_scan.count() == len(base) - half

    # combined range that matches nothing: zero files opened, zero rows
    none = t.scan(filters=[("_last_lsn", ">", len(base) + 10)])
    assert len(none.inputFiles()) == 0 and none.count() == 0


def test_stats_harvest_runs_executor_side(spark, tmp_path, monkeypatch):
    """The commit path must do NO driver-side per-file footer work: the
    zone-map harvest runs as a distributed job (executor tasks open footers,
    the driver receives only stats dicts). Pinned by stubbing the DRIVER's
    harvest function to explode — Python workers re-import the real module,
    so a commit that harvests on the driver fails while the distributed job
    still produces stats."""
    import battetl_spark.lake.table as table_mod

    def driver_harvest_forbidden(path, cols):
        raise AssertionError(
            "_harvest_file_stats ran on the driver during a commit"
        )

    monkeypatch.setattr(table_mod, "_harvest_file_stats", driver_harvest_forbidden)

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=41, n_events=400, n_convs=20, max_turns=4)
    assert merge_apply(t, FX.change_events_df(spark, ev), epoch_id=0).applied

    snap = t.snapshot()
    assert any(
        "stats" in e and "_last_lsn" in e["stats"]
        for entries in snap["files"].values() for e in entries
    ), "distributed harvest produced no zone-map stats"


def test_scan_filters_exact_without_stats(spark, tmp_path):
    """Backward compat: snapshots whose file entries carry NO zone-map stats
    (pre-round-3 tables) must still serve filtered scans exactly — no file
    is skipped on ignorance, the row filter does all the work. Vacuum stays
    conservative (rewrites everything) for the same reason."""
    t, _ = build(spark, tmp_path, n_batches=2)

    def strip(snap):
        for entries in snap["files"].values():
            for e in entries:
                e.pop("stats", None)
        return snap

    t.commit(strip)
    assert all(
        "stats" not in e
        for entries in t.snapshot()["files"].values() for e in entries
    )
    full = t.scan()
    wm = full.agg({"_last_lsn": "max"}).first()[0] // 2
    filtered = t.scan(filters=[("_last_lsn", ">", wm)])
    # no skipping possible → same files opened; rows exactly match
    assert sorted(filtered.inputFiles()) == sorted(full.inputFiles())
    import pandas as pd

    got = filtered.orderBy(*KEY_COLS).toPandas()[ALL].reset_index(drop=True)
    exp = (
        full.filter(f"_last_lsn > {wm}")
        .orderBy(*KEY_COLS).toPandas()[ALL].reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # stats-less vacuum still works (conservatively rewrites all buckets)
    t.vacuum_tombstones(below_lsn=10_000)
    assert t.scan(include_deleted=True).filter("_deleted").count() == 0


def test_vacuum_tombstones_zone_map_pruned(spark, tmp_path):
    """Tombstones isolated in buckets {0,1} of 8 → vacuum rewrites ONLY
    those buckets' files; every other bucket's file list carries forward
    byte-identical (maintenance cost ∝ qualifying buckets, not table)."""
    from pyspark.sql import functions as F

    from battetl_spark.lake.table import bucket_expr

    NB = 8
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=NB, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=21, n_events=1200, n_convs=64, max_turns=4)
    ins = ev[ev.op != "d"].reset_index(drop=True)
    assert merge_apply(t, FX.change_events_df(spark, ins), epoch_id=0).applied

    # keys currently living in buckets {0, 1}
    keys = (
        t.scan()
        .select("conv_id", "turn_idx")
        .withColumn("b", bucket_expr("conv_id", NB))
        .filter(F.col("b") < 2)
        .drop("b")
        .toPandas()
    )
    assert len(keys) > 0
    max_lsn = int(ins.lsn.max())
    dels = pd.DataFrame(
        {
            "lsn": np.arange(max_lsn + 1, max_lsn + 1 + len(keys), dtype=np.int64),
            "op": "d",
            "conv_id": keys.conv_id.values,
            "turn_idx": keys.turn_idx.values.astype(np.int32),
            "role": None,
            "text": None,
            "tool": None,
            "ts": pd.Timestamp("2026-08-01"),
            "source_partition": np.int32(0),
        }
    )
    assert merge_apply(t, FX.change_events_df(spark, dels), epoch_id=1).applied

    before = t.snapshot()
    tomb_buckets = {
        b
        for b, entries in before["files"].items()
        if any((e.get("stats") or {}).get("_deleted", {}).get("max") for e in entries)
    }
    assert tomb_buckets and tomb_buckets <= {"0", "1"}

    assert t.vacuum_tombstones(below_lsn=10_000_000) is not None
    after = t.snapshot()
    changed = {
        b
        for b in set(before["files"]) | set(after["files"])
        if before["files"].get(b) != after["files"].get(b)
    }
    assert changed == tomb_buckets  # untouched buckets carried forward
    assert t.scan(include_deleted=True).filter("_deleted").count() == 0
    # no qualifying tombstones left → second vacuum is a metadata no-op
    assert t.vacuum_tombstones(below_lsn=10_000_000) is None


def test_commit_metadata_scales_with_touched_buckets(spark, tmp_path):
    """Manifest-split metadata: a commit touching ONE bucket of a wide,
    fully-populated table must write (a) exactly one new manifest file
    covering only that bucket and (b) a root JSON that carries NO file
    entries — so per-commit metadata bytes are O(touched buckets + pointer
    map), never O(table files)."""
    import json

    import pandas as pd
    from pyspark.sql import functions as F

    from battetl_spark.lake.table import bucket_expr

    NB = 64
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=NB, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=51, n_events=4000, n_convs=400, max_turns=4)
    ins = ev[ev.op != "d"].reset_index(drop=True)
    assert merge_apply(t, FX.change_events_df(spark, ins), epoch_id=0).applied
    assert len(t.snapshot()["files"]) >= NB // 2  # table is wide

    meta_dir = tmp_path / "t" / "metadata"
    before = {p: os.path.getsize(p)
              for p in glob.glob(str(meta_dir / "**" / "*.json"), recursive=True)}

    # one-key batch → exactly one touched bucket
    one = t.scan().limit(1).select("conv_id", "turn_idx").first()
    upd = pd.DataFrame([{
        "lsn": int(ins.lsn.max()) + 1, "op": "u", "conv_id": one["conv_id"],
        "turn_idx": np.int32(one["turn_idx"]), "role": "user", "text": "touched",
        "tool": None, "ts": pd.Timestamp("2026-08-01"),
        "source_partition": np.int32(0),
    }])
    assert merge_apply(t, FX.change_events_df(spark, upd), epoch_id=1).applied

    after = {p: os.path.getsize(p)
             for p in glob.glob(str(meta_dir / "**" / "*.json"), recursive=True)}
    new_files = sorted(set(after) - set(before))
    new_manifests = [p for p in new_files if "/manifests/" in p]
    new_roots = [p for p in new_files if "/manifests/" not in p]
    assert len(new_manifests) == 1 and len(new_roots) == 1

    manifest = json.loads(open(new_manifests[0]).read())
    touched = (
        t.scan().filter(
            (F.col("conv_id") == one["conv_id"])
            & (F.col("turn_idx") == one["turn_idx"])
        ).select(bucket_expr("conv_id", NB).alias("b")).first()["b"]
    )
    assert set(manifest) == {str(touched)}  # only the touched bucket's entries

    root = json.loads(open(new_roots[0]).read())
    assert "files" not in root  # no inline entries in the root
    # the touched-bucket commit's metadata is far smaller than the wide
    # commit's (which wrote every bucket's entries)
    wide_manifest_bytes = max(
        os.path.getsize(p) for p in before if "/manifests/" in p
    )
    assert os.path.getsize(new_manifests[0]) < wide_manifest_bytes / 10

    # reads still see exactly the merged state
    got = t.scan().filter(
        (F.col("conv_id") == one["conv_id"])
        & (F.col("turn_idx") == one["turn_idx"])
    ).first()
    assert got["text"] == "touched"


def test_compact_fences_folds_contiguous_prefix(spark, tmp_path):
    """The fence map must not grow O(epochs) forever: compact_fences folds
    the maximal CONTIGUOUS fenced prefix into one fence_floor watermark —
    folded epochs still replay as no-ops, a gap epoch (never applied) stops
    the fold and is never spuriously fenced."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=71, n_events=600, n_convs=20, max_turns=4)
    chunks = np.array_split(ev, 4)
    # epochs 0,1,2 applied; 3 skipped (gap); 4 applied
    batches = {0: chunks[0], 1: chunks[1], 2: chunks[2], 4: chunks[3]}
    for e, ch in batches.items():
        assert merge_apply(t, FX.change_events_df(spark, ch.reset_index(drop=True)),
                           epoch_id=e).applied
    state_before = state(t)

    snap = t.compact_fences()
    assert snap is not None
    assert t.fence_floor() == 2  # the gap at 3 stops the fold
    assert set(t.fences()) == {"4"}  # 0..2 folded away, 4 kept
    # folded epochs still fence: replay of epoch 1 is a no-op
    v0 = t.snapshot()["version"]
    assert not merge_apply(
        t, FX.change_events_df(spark, chunks[1].reset_index(drop=True)), epoch_id=1
    ).applied
    assert t.snapshot()["version"] == v0
    for e in (0, 1, 2, 4):
        assert t.has_fence(e)
    assert not t.has_fence(3)  # gap epoch remains un-fenced
    assert_pdf_equal(state(t), state_before, KEY_COLS)

    # nothing more to fold until the gap closes...
    assert t.compact_fences() is None
    # ...and once it does, a second compaction folds through it
    gap = FX.make_change_events(seed=72, n_events=50, n_convs=5, max_turns=3)
    assert merge_apply(t, FX.change_events_df(spark, gap), epoch_id=3).applied
    assert t.compact_fences() is not None
    assert t.fence_floor() == 4 and t.fences() == {}


def test_vacuum_files_removes_unreferenced(spark, tmp_path):
    t, expected = build(spark, tmp_path)
    t.compact(min_files_per_bucket=2)
    all_files = glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                          recursive=True)
    deleted = t.vacuum_files(keep_snapshots=1)
    assert deleted and len(deleted) < len(all_files)
    assert all(not os.path.exists(p) for p in deleted)
    assert_pdf_equal(state(t), expected, KEY_COLS)  # current snapshot intact


def test_vacuum_reclaims_fence_noop_orphans(spark, tmp_path):
    """A fenced replay writes data files then discards the commit (no
    snapshot references them); vacuum_files must reclaim those orphans while
    every referenced file — and the table state — survives."""
    import glob
    import os

    from battetl_spark import fixtures as FX
    from battetl_spark.cdc import merge_apply
    from battetl_spark.lake import LakeTable
    from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.change_events_df(
        spark, FX.make_change_events(seed=31, n_events=500, n_convs=20, max_turns=5)
    )
    assert merge_apply(t, ev, epoch_id=1).applied
    before_files = set(glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                                 recursive=True))
    before_state = t.scan().orderBy(*KEY_COLS).toPandas()

    # replay through the top-of-function check writes nothing...
    assert not merge_apply(t, ev, epoch_id=1).applied
    # ...but the fence-RACE path (fence appears after the check) has already
    # written its data when the commit is discarded — simulate it directly
    from battetl_spark.lake.table import BUCKET_COL, bucket_expr

    snap = t.snapshot()
    b0 = [int(next(iter(snap["files"])))]
    rows = t.scan(b0, snap, include_deleted=True).withColumn(
        BUCKET_COL, bucket_expr(snap["bucket_key"], snap["num_buckets"])
    )
    assert t.replace_buckets(
        rows, b0, fence={"epoch_id": 1, "max_lsn": 0}, base_snapshot=snap
    ) is None
    after_files = set(glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                                recursive=True))
    orphans = after_files - before_files
    assert orphans  # the discarded write left files behind

    deleted = set(t.vacuum_files(keep_snapshots=10))
    assert orphans <= deleted  # every orphan reclaimed
    assert t.scan().orderBy(*KEY_COLS).toPandas().equals(before_state)


def test_manifest_cache_bounded_lru(spark, tmp_path):
    """A long-lived writer must not hold O(commits) manifest dicts: the
    per-instance cache is a bounded LRU — evicted entries re-read from the
    immutable file on miss (round-5 ADVICE)."""
    import json

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    mdir = os.path.join(t.path, "metadata", "manifests")
    os.makedirs(mdir, exist_ok=True)
    cap = t._manifest_cache_cap
    rels = []
    for i in range(cap * 3):
        rel = os.path.join("manifests", f"m-lru{i:04d}.json")
        with open(os.path.join(t.path, "metadata", rel), "w") as f:
            json.dump({"0": [{"path": f"data/fake{i}.parquet"}]}, f)
        rels.append(rel)
        t._read_manifest(rel)
        assert len(t._manifest_cache) <= cap
    # oldest entries evicted, newest retained; evicted re-read works
    assert rels[-1] in t._manifest_cache
    assert rels[0] not in t._manifest_cache
    assert t._read_manifest(rels[0])["0"][0]["path"] == "data/fake0.parquet"
    # LRU order: touching an old-but-cached entry protects it
    victim = next(iter(t._manifest_cache))
    t._read_manifest(victim)
    assert next(iter(t._manifest_cache)) != victim


def test_scan_zone_map_bucket_skip_with_mor_deltas(spark, tmp_path):
    """Delta-bearing (MOR) buckets must still benefit from zone maps at
    BUCKET granularity: when no file in a bucket (base∪delta ranges) can
    match the filters, the whole bucket is skipped; per-file skipping stays
    off inside surviving delta buckets (round-4 verdict 'What's wrong #2').
    Results must be exact either way."""
    import numpy as np
    import pandas as pd

    from battetl_spark.lake.table import bucket_expr

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=4, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=13, n_events=800, n_convs=40, max_turns=5)
    ev = ev.sort_values("lsn", kind="stable").reset_index(drop=True)
    convs = spark.createDataFrame(
        pd.DataFrame({"conv_id": ev["conv_id"].unique()})
    )
    bmap = {
        r["conv_id"]: r["b"]
        for r in convs.select(
            "conv_id", bucket_expr("conv_id", 4).alias("b")
        ).collect()
    }
    assert len(set(bmap.values())) == 4  # all buckets populated
    # low-lsn convs live in buckets {0,1}, high-lsn convs in {2,3}: the
    # low buckets' whole base∪delta lsn range sits below the filter bound
    is_low = ev["conv_id"].map(bmap).isin({0, 1}).to_numpy()
    ev = ev.copy()
    ev.loc[is_low, "lsn"] = np.arange(1, int(is_low.sum()) + 1, dtype=np.int64)
    ev.loc[~is_low, "lsn"] = np.arange(
        100_000, 100_000 + int((~is_low).sum()), dtype=np.int64
    )
    merge_apply(t, FX.change_events_df(
        spark, ev[is_low].reset_index(drop=True)), epoch_id=0, mode="mor")
    merge_apply(t, FX.change_events_df(
        spark, ev[~is_low].reset_index(drop=True)), epoch_id=1, mode="mor")

    snap = t.snapshot()
    assert any(
        e.get("delta") for entries in snap["files"].values() for e in entries
    ), "setup must leave outstanding MOR deltas"

    full = t.scan()
    total_files = len(full.inputFiles())
    bounded = t.scan(filters=[("_last_lsn", ">", 50_000)])
    assert 0 < len(bounded.inputFiles()) < total_files  # low buckets skipped
    expected = (
        full.filter("_last_lsn > 50000").orderBy(*KEY_COLS)
        .toPandas().reset_index(drop=True)
    )
    got = bounded.orderBy(*KEY_COLS).toPandas().reset_index(drop=True)
    assert_pdf_equal(got, expected, KEY_COLS)
    assert len(got) > 0

    # a range matching nothing skips every delta bucket outright
    none = t.scan(filters=[("_last_lsn", ">", 10_000_000)])
    assert len(none.inputFiles()) == 0 and none.count() == 0


def test_clustered_compaction_enables_range_file_skipping(spark, tmp_path):
    """The hot write path salt-splits a bucket's files by KEY hash, so every
    file spans the bucket's whole ts range and a narrow ts scan opens ALL
    files. compact(cluster_by='ts') must rewrite each bucket as files
    holding contiguous DISJOINT ts ranges — after it, the same narrow scan
    opens strictly fewer files with byte-identical results."""
    import datetime

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=2, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    base = FX.make_transcripts(seed=31, n_convs=60, max_turns=6)
    pdf = base.reset_index(drop=True).copy()
    pdf["_last_lsn"] = np.arange(1, len(pdf) + 1, dtype=np.int64)
    pdf["_deleted"] = False
    # ts uncorrelated with the key hash: every salt file spans the full range
    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        (np.arange(len(pdf)) * 7919) % len(pdf), "h"
    )
    cols = [f.name for f in TRANSCRIPT_TABLE_SCHEMA.fields]
    t.append(spark.createDataFrame(pdf[cols], TRANSCRIPT_TABLE_SCHEMA))

    cutoff = datetime.datetime(2026, 1, 3)  # first ~48 of len(pdf) hours
    filt = [("ts", "<", cutoff)]
    before_files = len(t.scan(filters=filt).inputFiles())
    total_before = len(t.scan().inputFiles())
    assert before_files == total_before  # salt split: nothing skippable
    expect = t.scan(filters=filt).toPandas()

    assert t.compact(min_files_per_bucket=1, cluster_by="ts",
                     files_per_bucket=4) is not None
    snap = t.snapshot()
    for entries in snap["files"].values():
        assert len(entries) >= 3  # bucket actually split into several files
        ranges = sorted(
            (e["stats"]["ts"]["min"], e["stats"]["ts"]["max"]) for e in entries
        )
        for (_, amax), (bmin, _) in zip(ranges, ranges[1:]):
            assert amax <= bmin  # contiguous disjoint cluster ranges

    after = t.scan(filters=filt)
    assert 0 < len(after.inputFiles()) < len(t.scan().inputFiles())
    assert_pdf_equal(after.toPandas(), expect, ["conv_id", "turn_idx"])


def test_clustered_compaction_persists_stats_property(spark, tmp_path):
    """A non-implicit cluster column must land in the stats_cols property so
    future writes keep harvesting it; unknown columns are refused. The
    property commit and the rewrite are maintenance commits: they must not
    re-commit the seeding merge's lineage rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=2, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=32, n_events=120, n_convs=10, max_turns=4)
    assert merge_apply(t, FX.change_events_df(spark, ev), epoch_id=0).applied
    want = t.scan().toPandas()
    n_lineage = t.lineage_df().count()
    assert n_lineage > 0

    with pytest.raises(ValueError, match="cluster_by"):
        t.compact(min_files_per_bucket=1, cluster_by="nope")

    assert t.compact(min_files_per_bucket=1, cluster_by="turn_idx",
                     files_per_bucket=2) is not None
    snap = t.snapshot()
    assert "turn_idx" in snap["properties"]["stats_cols"]
    assert all(
        "turn_idx" in e.get("stats", {})
        for entries in snap["files"].values() for e in entries
    )
    assert t.lineage_df().count() == n_lineage
    got = t.scan().toPandas()
    assert_pdf_equal(got[ALL], want[ALL], ["conv_id", "turn_idx"])


def test_zorder_compaction_skips_on_both_dimensions(spark, tmp_path):
    """compact(cluster_by=[ts, turn_idx]) Z-orders each crowded bucket:
    after it, a narrow scan on EITHER dimension opens strictly fewer files
    (single-column clustering only ever helps its own column), with
    byte-identical results; string columns are refused."""
    import datetime

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=2, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    base = FX.make_transcripts(seed=77, n_convs=120, max_turns=4)
    pdf = base.reset_index(drop=True).copy()
    pdf["_last_lsn"] = np.arange(1, len(pdf) + 1, dtype=np.int64)
    pdf["_deleted"] = False
    n = len(pdf)
    # two INDEPENDENT dimensions, both uncorrelated with the key salt
    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        (np.arange(n) * 7919) % n, "h"
    )
    pdf["turn_idx"] = ((np.arange(n) * 104729) % 1000).astype(np.int32)
    cols = [f.name for f in TRANSCRIPT_TABLE_SCHEMA.fields]
    t.append(spark.createDataFrame(pdf[cols], TRANSCRIPT_TABLE_SCHEMA))

    f_ts = [("ts", "<", datetime.datetime(2026, 1, 2))]
    f_ti = [("turn_idx", "<", 120)]
    exp_ts = t.scan(filters=f_ts).toPandas()
    exp_ti = t.scan(filters=f_ti).toPandas()

    assert t.compact(min_files_per_bucket=1, cluster_by=["ts", "turn_idx"],
                     files_per_bucket=8) is not None
    snap = t.snapshot()
    props = snap["properties"]["stats_cols"]
    assert "turn_idx" in props  # ts is implicit, turn_idx persisted
    total = len(t.scan().inputFiles())
    got_ts = t.scan(filters=f_ts)
    got_ti = t.scan(filters=f_ti)
    assert 0 < len(got_ts.inputFiles()) < total
    assert 0 < len(got_ti.inputFiles()) < total
    key = ["conv_id", "turn_idx", "_last_lsn"]
    assert_pdf_equal(got_ts.toPandas(), exp_ts, key)
    assert_pdf_equal(got_ti.toPandas(), exp_ti, key)

    with pytest.raises(ValueError, match="Z-order"):
        t.compact(min_files_per_bucket=1, cluster_by=["ts", "role"])
    # a single-element list degrades to plain range clustering
    assert t.compact(min_files_per_bucket=1, cluster_by=["ts"],
                     files_per_bucket=4) is not None


def test_count_rows_metadata_fast_path(spark, tmp_path):
    """count_rows == scan().count() in every table state, and files proved
    tombstone-free by their zone maps are counted from footer metadata
    (never opened); tombstone-bearing or delta files fall back to a scan
    of ONLY those files/buckets."""
    from battetl_spark.cdc import merge_apply

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_TABLE_SCHEMA,
                         num_buckets=2, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    ev = FX.make_change_events(seed=5, n_events=400, n_convs=30, max_turns=5)
    half = len(ev) // 2
    merge_apply(t, FX.change_events_df(spark, ev.iloc[:half].reset_index(drop=True)),
                epoch_id=1)
    total, n_meta, n_slow, n_slow_b = t.count_rows(_debug=True)
    assert total == t.scan().count()
    if "d" in set(ev.iloc[:half]["op"]):
        assert n_slow + n_slow_b > 0  # tombstones force some slow counting
    # clean append-only table: pure metadata count, zero files opened
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), TRANSCRIPT_TABLE_SCHEMA,
                          num_buckets=2, key_cols=KEY_COLS, sort_cols=KEY_COLS)
    base = FX.make_transcripts(seed=6, n_convs=25, max_turns=4)
    t2.append(FX.table_rows_df(spark, base))
    total2, n_meta2, n_slow2, n_slow_b2 = t2.count_rows(_debug=True)
    assert total2 == t2.scan().count() == len(base)
    assert n_slow2 == 0 and n_slow_b2 == 0 and n_meta2 > 0
    # MOR deltas: delta-bearing buckets resolve, result still exact
    merge_apply(t, FX.change_events_df(spark, ev.iloc[half:].reset_index(drop=True)),
                epoch_id=2, mode="mor")
    total3, _, _, n_slow_b3 = t.count_rows(_debug=True)
    assert total3 == t.scan().count()
    assert n_slow_b3 > 0


def test_zorder_ntz_rank_is_session_tz_independent(spark):
    """The Z-order double view of a timestamp_ntz column must not depend on
    the session timezone (round-6 advice fix: the cast("timestamp") route
    was non-monotone at DST fall-back in non-UTC sessions). Values straddle
    the US fall-back transition; ranks must be identical and strictly
    increasing under UTC and under America/Los_Angeles."""
    import pandas as pd

    from battetl_spark.lake.zorder import _dbl

    ts = pd.to_datetime(pd.Series([
        "2026-11-01 00:30:00", "2026-11-01 01:00:00", "2026-11-01 01:30:00",
        "2026-11-01 01:59:59.500000", "2026-11-01 02:00:00", "2026-11-01 02:30:00",
    ]), format="mixed")
    pdf = pd.DataFrame({"ts": ts})
    df = spark.createDataFrame(pdf, schema="ts timestamp_ntz")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        vals = {}
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            vals[tz] = [
                r[0] for r in df.select(_dbl("ts", "timestamp_ntz")).collect()
            ]
        assert vals["UTC"] == vals["America/Los_Angeles"]
        assert vals["UTC"] == sorted(vals["UTC"])
        assert len(set(vals["UTC"])) == len(vals["UTC"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
