"""Plan-shape assertions: the optimizations the engine claims must be
visible in the physical plan (guards against silent regressions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

pytestmark = pytest.mark.queries

SF = "/root/testdata/sf0.001"


def plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            mode
        )
    )


def test_column_pruning_reaches_scan(spark):
    p = plan(E.q_groupby_agg(spark, SF))
    # only the 5 needed lineitem columns are read, not all 11
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" in read and "l_shipdate" not in read and "l_partkey" not in read


def test_filter_pushdown_reaches_scan(spark):
    p = plan(
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("event_id")
    )
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(event_type,click)" in pushed


def test_partial_aggregation_present(spark):
    """Map-side combine on the LWW winner agg — the skew-safety claim."""
    from battetl_spark.cdc.dedup import lww_winners
    from battetl_spark.fixtures import spark_change_events

    p = plan(lww_winners(spark_change_events(spark, 1000)), "simple")
    assert "partial_max_by" in p or "partial" in p.lower()


def test_broadcast_join_chosen(spark):
    p = plan(E.q_join_enrich(spark, SF), "simple")
    assert "BroadcastHashJoin" in p


def test_whole_stage_codegen_covers_transform(spark):
    """The vendor-normalization select stays inside codegen (JVM-side)."""
    from battetl_spark.transform.normalize import normalize_cycler_data

    df = spark.createDataFrame(
        [("0", "1", "100.0", "1.0", "2.0", "0.5", "0.1", "3.7",
          "08/16/2026 10:00:00", "25.0")],
        ["Cyc#", "Step", "TestTime(s)", "StepTime(s)", "Capacity(Ah)",
         "Watt-hr", "Current(A)", "Voltage(V)", "DPt Time", "Temp 1"],
    )
    p = plan(normalize_cycler_data(df), "simple")
    assert "*(1)" in p  # whole-stage-codegen stage marker in simple mode
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_no_python_udf_in_query_surface(spark):
    """Every oracle-checked query must be pure JVM — no exemptions since
    round 2 (simhash is now a Catalyst bit-vote aggregation; multimodal is
    the only Arrow surface and is not in the query dict)."""
    for name, fn in E.queries().items():
        p = plan(fn(spark, SF), "simple")
        assert "BatchEvalPython" not in p, f"{name} uses a row-wise Python UDF"
        assert "ArrowEvalPython" not in p, f"{name} uses a Python UDF"


def test_lsh_bucket_plan_linear_in_dim(spark):
    """Round-1 regression: the hyperplane construction must not be
    re-expanded per plane (measured 100× Catalyst blowup class). With
    literal sign arrays, building + optimizing the dim=512 / 16-plane
    bucketing plan is cheap and the optimized plan stays linear."""
    import time

    from battetl_spark.analytics.similarity import lsh_bucket

    df = spark.range(8).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(511)), lambda j: (j * 0.001).cast("double")
        ).alias("v"),
    )
    t0 = time.monotonic()
    out = df.select("id", lsh_bucket(F.col("v"), dim=512, num_planes=16).alias("b"))
    rows = out.collect()
    elapsed = time.monotonic() - t0
    assert len(rows) == 8 and all(0 <= r.b < 2**16 for r in rows)
    assert elapsed < 30.0, f"lsh_bucket plan/exec blowup: {elapsed:.1f}s"


def test_no_global_sort_in_incremental_maintenance_path(spark):
    """conversation_stats / calc_cycle_stats feed incremental maintenance —
    a forced .orderBy would add a rangepartitioning shuffle at 1e9 keys.
    Ordering is the caller's (presentation-layer) choice."""
    from battetl_spark.analytics.cycle_stats import calc_cycle_stats
    from battetl_spark.analytics.rollups import conversation_stats
    from battetl_spark.fixtures import make_transcripts, transcripts_df

    base = transcripts_df(spark, make_transcripts(seed=3, n_convs=20, max_turns=5))
    p = plan(conversation_stats(base), "simple")
    assert "rangepartitioning" not in p.lower()
    data = spark.createDataFrame(
        [(0, 1, 10.0, 100.0, 3700.0, 1000.0, 5.0, 1)],
        ["cycle", "step", "test_time_s", "current_ma", "voltage_mv",
         "capacity_mah", "energy_mwh", "unixtime_s"],
    )
    p = plan(calc_cycle_stats(data, chg_steps=[1], dsg_steps=[2]), "simple")
    assert "rangepartitioning" not in p.lower()


def test_kmeans_assignment_map_only(spark):
    """Round-2 verdict fix: k-means assignment must be a per-row argmin over
    literal centroids — ZERO shuffle (no Exchange at all in the assignment
    plan), not a crossJoin×n_cells + groupBy(id) payload shuffle."""
    from battetl_spark.analytics.similarity import assign_cells

    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)), lambda j: (j * 0.1).cast("double")
        ).alias("embedding"),
    )
    centroids = [[0.1 * j + 0.01 * c for j in range(8)] for c in range(4)]
    out = assign_cells(df, centroids)
    p = plan(out, "simple")
    assert "Exchange" not in p, "assignment must be map-only"
    assert "Join" not in p, "assignment must not join the corpus"
    rows = out.collect()
    assert len(rows) == 64 and all(0 <= r.cell < 4 for r in rows)


def test_textops_plan_shapes(spark):
    """The near-dup/ANN operators' scale claims, visible in the plan:
    map-side partial aggregation for signature builds, column-pruned scans
    (never the full documents row), and rank-limit pushdown for top-k."""
    p = plan(E.q_doc_simhash(spark, SF))
    assert "partial_sum" in p          # 64 bit-votes combine map-side
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read and "lang" not in read and "source" not in read
    p = plan(E.q_doc_minhash_dedup(spark, SF))
    assert "partial_min" in p          # K minhashes combine map-side
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    p = plan(E.q_ann_ivf_topk(spark, SF))
    assert "WindowGroupLimit" in p     # top-k pushed below the rank filter
    assert "partial_avg" in p          # centroids combine map-side
    # the shared re-rank keeps the rank-limit pushdown for every top-k path
    for q in (E.q_ann_cosine_topk, E.q_ann_lsh_topk):
        assert "WindowGroupLimit" in plan(q(spark, SF))


def test_retention_broadcast_sizes_no_raw_window(spark):
    """Cohort retention: the cohort-size attach must be a BroadcastHashJoin
    (the grid's offset-0 slice is tiny), and no Window over raw events
    appears anywhere — the operator is pure aggregate ladder + joins."""
    out = E.queries()["event_retention"](spark, SF)
    p = plan(out, "simple")
    assert "BroadcastHashJoin" in p, "cohort sizes must broadcast back"
    assert "Window" not in p, "retention must not window raw events"


def test_group_quantiles_single_window_partial_agg(spark):
    """Exact quantiles: exactly ONE window pass (the per-group sort is paid
    once for all requested quantiles) followed by a partial aggregate."""
    from battetl_spark.operators import group_quantiles

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = group_quantiles(ev, ["event_type"], "value", [0.5, 0.95, 0.99])
    p = plan(out, "simple")
    assert p.count("Window") == 1, "all quantiles must share one sort window"
    assert "partial_count" in p or "HashAggregate" in p
    ap = plan(
        group_quantiles(ev, ["event_type"], "value", [0.5], approx=True),
        "simple",
    )
    assert "Window" not in ap, "approx path must not sort"


def test_active_users_no_per_day_count_distinct(spark):
    """Sliding actives: the plan must contain NO expand-based count-distinct
    (the counts group already-distinct pairs) and the observation bound
    must broadcast."""
    out = E.queries()["event_active_users"](spark, SF)
    p = plan(out, "simple")
    assert "count(distinct" not in p.lower(), "must count distinct pairs, not expand"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Window" not in p


def test_pivot_single_exchange_no_distinct_job(spark):
    """Explicit-values pivot: one partial-aggregated groupBy — exactly one
    Exchange, and no expand-based count-distinct."""
    out = E.queries()["event_pivot"](spark, SF)
    p = plan(out, "simple")
    assert p.count("Exchange") == 1, "pivot must be one aggregation pass"
    assert "Expand" not in p
