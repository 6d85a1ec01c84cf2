"""Schema-evolution gate tests (FIXTURES.md F6; reference analog:
schema-version gate Loader.py:448-493, open-schema packing Loader.py:495-524).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from battetl_spark import fixtures as FX
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable, SchemaCompatibilityError
from battetl_spark.lake.evolution import check_schema_compatibility
from battetl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    KEY_COLS,
    TRANSCRIPT_TABLE_SCHEMA,
)

pytestmark = pytest.mark.lake


def seeded(spark, path, base_pdf):
    t = LakeTable.create(
        spark, str(path), TRANSCRIPT_TABLE_SCHEMA, num_buckets=4,
        key_cols=KEY_COLS, sort_cols=KEY_COLS,
    )
    t.append(FX.table_rows_df(spark, base_pdf))
    return t


@pytest.fixture(scope="module")
def base_pdf():
    return FX.make_transcripts(seed=42, n_convs=20, max_turns=6)


def events_with(spark, pdf, extra=None, retype=None):
    fields = list(CHANGE_EVENT_SCHEMA.fields)
    if retype:
        fields = [
            T.StructField(f.name, retype.get(f.name, f.dataType), f.nullable)
            for f in fields
        ]
    if extra:
        fields += [T.StructField(n, dt, True) for n, dt in extra]
    schema = T.StructType(fields)
    return spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema=schema)


def base_events(n=20, lsn0=1):
    ev = FX.make_change_events(seed=5, n_events=n, n_convs=20, max_turns=6,
                               dup_rate=0, shuffle_window=1)
    ev["lsn"] += lsn0 - 1
    return ev


def test_add_column_midstream(spark, tmp_path, base_pdf):
    t = seeded(spark, tmp_path / "t1", base_pdf)
    merge_apply(t, events_with(spark, base_events(20)), epoch_id=0)
    ev = base_events(20, lsn0=1000)
    ev["meta_tokens"] = np.arange(len(ev), dtype=np.int32)
    merge_apply(
        t, events_with(spark, ev, extra=[("meta_tokens", T.IntegerType())]),
        epoch_id=1,
    )
    assert "meta_tokens" in [f.name for f in t.schema.fields]
    df = t.scan()
    assert df.filter("meta_tokens is not null").count() > 0
    assert df.filter("meta_tokens is null").count() > 0  # old rows → NULL


def test_widen_int_to_long(spark, tmp_path, base_pdf):
    t = seeded(spark, tmp_path / "t2", base_pdf)
    merge_apply(t, events_with(spark, base_events(20)), epoch_id=0)
    ev = base_events(10, lsn0=2000)
    ev["turn_idx"] = ev["turn_idx"].astype(np.int64)
    merge_apply(
        t, events_with(spark, ev, retype={"turn_idx": T.LongType()}), epoch_id=1
    )
    field = {f.name: f for f in t.schema.fields}["turn_idx"]
    assert field.dataType == T.LongType()
    # all rows (old int32 files + new long files) readable and consistent
    assert t.scan().select("turn_idx").distinct().count() > 0


def test_incompatible_rejected_no_partial_commit(spark, tmp_path, base_pdf):
    t = seeded(spark, tmp_path / "t3", base_pdf)
    v0 = t.snapshot()["version"]
    ev = base_events(5)
    ev["ts"] = "not-a-timestamp"
    with pytest.raises(SchemaCompatibilityError):
        merge_apply(
            t, events_with(spark, ev, retype={"ts": T.StringType()}), epoch_id=0
        )
    assert t.snapshot()["version"] == v0  # nothing committed
    assert not t.has_fence(0)


def test_compat_checker_unit():
    cur = T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.FloatType(), True),
        ]
    )
    out = check_schema_compatibility(
        cur,
        T.StructType(
            [
                T.StructField("a", T.LongType(), False),
                T.StructField("b", T.DoubleType(), True),
                T.StructField("c", T.StringType(), True),
            ]
        ),
    )
    got = {f.name: f.dataType for f in out.fields}
    assert got == {"a": T.LongType(), "b": T.DoubleType(), "c": T.StringType()}
    # int-family data into an existing float/double column is lossless —
    # keep the current type, never halt the merge (round-2 ADVICE fix)
    out2 = check_schema_compatibility(
        cur,
        T.StructType(
            [
                T.StructField("a", T.IntegerType(), False),
                T.StructField("b", T.LongType(), True),
            ]
        ),
    )
    assert {f.name: f.dataType for f in out2.fields} == {
        "a": T.IntegerType(), "b": T.FloatType(),
    }
    with pytest.raises(SchemaCompatibilityError):
        check_schema_compatibility(
            cur, T.StructType([T.StructField("a", T.StringType(), True)])
        )
    with pytest.raises(SchemaCompatibilityError):  # missing non-nullable col
        check_schema_compatibility(
            cur, T.StructType([T.StructField("b", T.FloatType(), True)])
        )


def test_drop_column_and_masked_readd(spark, tmp_path, base_pdf):
    """drop_column is metadata-only; re-adding the name (implicitly, via a
    batch still carrying it) creates a NEW column — files written before
    the re-add read NULL even though they still store the dropped
    predecessor's bytes under the same name; time travel to a pre-drop
    version still sees the old values."""
    t = seeded(spark, tmp_path / "t5", base_pdf)
    merge_apply(t, events_with(spark, base_events(20)), epoch_id=0)
    v_before = t.snapshot()["version"]
    had_tool = t.scan().filter("tool is not null").count()
    assert had_tool > 0
    n_before = t.scan().count()

    t.drop_column("tool")
    assert "tool" not in [f.name for f in t.schema.fields]
    assert "tool" not in t.scan().columns
    assert t.scan().count() == n_before  # no rows touched
    assert t.scan_at(v_before).filter("tool is not null").count() == had_tool

    # merge WITHOUT the column keeps working and does not resurrect it
    merge_apply(
        t, events_with(spark, base_events(10, lsn0=3000)).drop("tool"),
        epoch_id=1,
    )
    assert "tool" not in t.scan().columns

    # a batch still carrying the column evolves it back — as a NEW column
    ev2 = base_events(10, lsn0=4000)
    ev2["tool"] = "fresh"
    merge_apply(t, events_with(spark, ev2), epoch_id=2)
    df = t.scan()
    assert "tool" in df.columns
    fresh = df.filter("tool is not null")
    assert fresh.count() > 0
    assert fresh.filter("tool != 'fresh'").count() == 0  # no old bytes leak


def test_drop_column_refusals(spark, tmp_path, base_pdf):
    t = seeded(spark, tmp_path / "t6", base_pdf)
    for col in ("conv_id", "turn_idx", "_last_lsn"):
        with pytest.raises(ValueError):
            t.drop_column(col)
    with pytest.raises(ValueError):
        t.drop_column("never_existed")
    v = t.snapshot()["version"]
    t.drop_column("tool")
    assert t.snapshot()["version"] == v + 1


def test_rename_column_reads_old_files(spark, tmp_path, base_pdf):
    """Metadata-only rename: old files' bytes read under the NEW name via
    the per-schema-id alias; new writes store the new name; chained rename
    keeps working; the OLD name re-carried by a batch becomes a NEW masked
    column; time travel pre-rename shows the old name."""
    t = seeded(spark, tmp_path / "t7", base_pdf)
    merge_apply(t, events_with(spark, base_events(20)), epoch_id=0)
    v_pre = t.snapshot()["version"]
    old_vals = (
        t.scan().filter("tool is not null").orderBy(*KEY_COLS)
        .select("conv_id", "turn_idx", "tool").toPandas()
    )
    assert len(old_vals) > 0

    t.rename_column("tool", "tool_name")
    cols = [f.name for f in t.schema.fields]
    assert "tool_name" in cols and "tool" not in cols
    renamed = (
        t.scan().filter("tool_name is not null").orderBy(*KEY_COLS)
        .select("conv_id", "turn_idx", "tool_name").toPandas()
    )
    assert renamed["tool_name"].tolist() == old_vals["tool"].tolist()
    assert t.scan_at(v_pre).select("tool").columns == ["tool"]

    # new ingest writes under the new name and reads seamlessly with old files
    ev = base_events(10, lsn0=5000)
    ev = ev.rename(columns={"tool": "tool_name"})
    ev["tool_name"] = "renamedtool"
    e_df = events_with(spark, ev.rename(columns={"tool_name": "tool"}))
    e_df = e_df.withColumnRenamed("tool", "tool_name")
    merge_apply(t, e_df, epoch_id=1)
    vals = set(
        r["tool_name"]
        for r in t.scan().filter("tool_name is not null")
        .select("tool_name").distinct().collect()
    )
    assert "renamedtool" in vals and len(vals) > 1  # old + new bytes coexist

    # chained rename
    t.rename_column("tool_name", "tool_kind")
    assert t.scan().filter("tool_kind = 'renamedtool'").count() > 0
    assert t.scan().filter("tool_kind is not null").count() > len(ev)

    # a batch re-carrying the ORIGINAL name becomes a fresh masked column
    ev2 = base_events(5, lsn0=6000)
    ev2["tool"] = "resurrected"
    merge_apply(t, events_with(spark, ev2), epoch_id=2)
    df = t.scan()
    assert {"tool", "tool_kind"} <= set(df.columns)
    leak = df.filter("tool is not null and tool != 'resurrected'")
    assert leak.count() == 0  # no old bytes under the original name

    # a rename INTO a dropped name keeps the renamed column's own bytes;
    # the dropped column's bytes never appear under the name
    kinds = sorted(
        r["tool_kind"] for r in df.filter("tool_kind is not null").collect()
    )
    t.drop_column("tool")
    t.rename_column("tool_kind", "tool")
    df = t.scan()
    assert "tool_kind" not in df.columns
    assert df.filter("tool = 'resurrected'").count() == 0
    assert sorted(r["tool"] for r in df.filter("tool is not null").collect()) == kinds


def test_rollback_across_rename_then_readd_reads_null(spark, tmp_path, base_pdf):
    """Rolling back a rename restores the old schema but not the new name:
    a later batch that adds the renamed-to name creates a NEW column, and
    the old column's bytes never appear under it."""
    t = seeded(spark, tmp_path / "t9", base_pdf)
    merge_apply(t, events_with(spark, base_events(20)), epoch_id=0)
    v_pre = t.snapshot()["version"]
    assert t.scan().filter("tool is not null").count() > 0

    t.rename_column("tool", "tool_name")
    t.rollback(v_pre)
    assert "tool" in t.schema.fieldNames()
    assert "tool_name" not in t.schema.fieldNames()

    ev = base_events(10, lsn0=7000)
    ev["tool_name"] = "new"
    merge_apply(
        t, events_with(spark, ev, extra=[("tool_name", T.StringType())]),
        epoch_id=1,
    )
    df = t.scan()
    assert df.filter("tool_name = 'new'").count() > 0
    assert df.filter("tool_name is not null and tool_name != 'new'").count() == 0
    assert df.filter("tool is not null").count() > 0


def test_rename_column_refusals(spark, tmp_path, base_pdf):
    t = seeded(spark, tmp_path / "t8", base_pdf)
    for old, new in (("conv_id", "cid"), ("_last_lsn", "lsn2"),
                     ("tool", "role"), ("tool", "_x"), ("nope", "x")):
        with pytest.raises(ValueError):
            t.rename_column(old, new)


def test_history_bookkeeping_columns_protected(spark, tmp_path):
    """A HistoryTable's interval columns (op, valid_from_lsn, valid_to_lsn)
    are protected_cols: drop/rename refuse them; payload columns still
    evolve."""
    from battetl_spark.cdc.history import HistoryTable

    h = HistoryTable.create(
        spark, str(tmp_path / "h"),
        T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
        ]),
        key_cols=["conv_id", "turn_idx"], num_buckets=2,
    )
    for col in ("op", "valid_to_lsn", "valid_from_lsn"):
        with pytest.raises(ValueError):
            h.table.drop_column(col)
        with pytest.raises(ValueError):
            h.table.rename_column(col, "x")
    h.table.rename_column("text", "body")  # payload evolution still allowed
    assert "body" in [f.name for f in h.table.schema.fields]


def test_rename_column_remaps_stats_property(spark, tmp_path, base_pdf):
    """Renaming a zone-mapped column must carry the stats_cols property to
    the new name: future writes keep harvesting it and file skipping keeps
    working (round-6 advice fix — the stale old name was silently filtered
    out of every later harvest)."""
    t = seeded(spark, tmp_path / "t_statren", base_pdf)
    t.compact(min_files_per_bucket=1, cluster_by="tool")
    assert "tool" in t.snapshot()["properties"]["stats_cols"]

    t.rename_column("tool", "tool_name")
    props = t.snapshot()["properties"]
    assert "tool_name" in props["stats_cols"]
    assert "tool" not in props["stats_cols"]


def test_filters_read_zone_maps_by_field_id(spark, tmp_path):
    """File stats are keyed by the name the file stores: a filter on a
    renamed column uses the stats of the column with the same field id.
    After dropping ``a`` and renaming ``b`` into ``a``, the old files' ``a``
    stats describe the dropped column and must not skip a file whose ``b``
    holds the value; after a plain rename the old files still skip."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("a", T.StringType(), True),
        T.StructField("b", T.StringType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t_fid"), schema, num_buckets=1,
        key_cols=["conv_id"], properties={"stats_cols": ["a", "b"]},
    )
    t.append(spark.createDataFrame([("c1", "a1", "x1"), ("c2", "a2", "x2")], schema))
    t.drop_column("a")
    t.rename_column("b", "a")
    got = t.scan(filters=[("a", "=", "x2")]).collect()
    assert [(r["conv_id"], r["a"]) for r in got] == [("c2", "x2")]

    t.rename_column("a", "c")
    assert t.scan(filters=[("c", "=", "x9")]).inputFiles() == []
    assert t.scan(filters=[("c", "=", "x1")]).count() == 1
