"""Bench harness (driver contract): runs the headline workloads at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = CDC merge-apply replay (the north-star metric): a distributed
deterministic change-event stream (20x the sf's events rows, hot-key skewed)
merged into a bucketed LakeTable in microbatches; throughput is reported as
events/sec alongside per-query seconds for the analytic operator families.
Analytic queries report WARM (rep-2) seconds in "queries" (the engine's
cost) with the cold first-execution in "queries_cold" (JIT-dominated for
heavy-codegen queries). Re-ingest workloads (incremental indexes, history
builds — each execution is a full fresh-table pipeline, so rep 2 is not
warmer) report best-of-two instead, matching the replay convention.

Scaling evidence (two parallelism levels) is produced by
tools/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_cdc_merge(spark, n_events: int, n_batches: int = 4, num_buckets: int = 64,
                  work_dir: str | None = None, mode: str = "cow") -> dict:
    # the engine's single-shuffle merge (dedup folded into the resolve
    # aggregation) — the flagship path CdcStream/submit_job run.
    # mode="mor" benches the merge-on-read ingest path: winners appended as
    # delta files (write ∝ batch bytes), one fold-compaction at the end
    # (timed separately) so the final state check reads base files.
    """Merge-apply replay benchmark; returns timing + throughput."""
    from battetl_spark.cdc import merge_apply
    from battetl_spark.fixtures import spark_change_events
    from battetl_spark.lake import LakeTable
    from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA

    work = work_dir or tempfile.mkdtemp(prefix="bench-lake-")
    try:
        table = LakeTable.create(
            spark, os.path.join(work, "transcripts"), TRANSCRIPT_TABLE_SCHEMA,
            num_buckets=num_buckets, key_cols=KEY_COLS, sort_cols=KEY_COLS,
        )
        n_convs = max(1000, n_events // 200)
        batch = n_events // n_batches
        # materialize the change log first (untimed) — the metric is
        # merge-APPLY throughput, the WAL already exists in production
        ev_dirs = []
        for i in range(n_batches):
            d = os.path.join(work, f"events-{i}")
            spark_change_events(spark, batch, n_convs=n_convs, seed=42 + i) \
                .withColumn("lsn", ev_lsn(i, batch)) \
                .write.parquet(d)
            ev_dirs.append(d)
        t0 = time.time()
        for i, d in enumerate(ev_dirs):
            merge_apply(table, spark.read.parquet(d), epoch_id=i,
                        collect_lineage=False, mode=mode)
        elapsed = time.time() - t0
        out = {
            "events": n_events,
            "seconds": round(elapsed, 3),
            "events_per_sec": round(n_events / elapsed, 1),
        }
        if mode == "mor":
            t0 = time.time()
            table.compact(min_files_per_bucket=1)  # fold deltas -> base
            out["compact_seconds"] = round(time.time() - t0, 3)
        out["final_rows"] = table.scan().count()
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ev_lsn(batch_idx: int, batch_size: int):
    from pyspark.sql import functions as F

    return F.col("lsn") + batch_idx * batch_size


ANALYTIC_QUERIES = [
    "lww_latest_per_key",
    "cdc_replay",
    "cdc_history",
    "cdc_asof_state",
    "running_cumsum",
    "user_rollup",
    "groupby_agg",
    "join_enrich",
    "asof_join",
    "sessionize",
    "time_bucket_rollup",
    "doc_quality",
    "doc_fingerprint",
    "doc_minhash_dedup",
    "doc_minhash_incremental",
    "doc_dup_clusters",
    "doc_decontaminate",
    "doc_repetition",
    "doc_span_stats",
    "doc_span_dedup",
    "doc_span_incremental",
    "event_funnel",
    "event_retention",
    "event_quantiles",
    "event_active_users",
    "event_pivot",
    "doc_corpus_profile",
    "doc_frequent_ngrams",
    "doc_tfidf_terms",
    "doc_split_assign",
    "doc_pack_sequences",
    "doc_pack_chunks",
    "doc_simhash",
    "corpus_clean",
    "corpus_clean_incremental",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "emb_near_dup",
    "emb_near_dup_incremental",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("BENCH_EVENTS", "0")) or None

    from battetl_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                      app_name="battetl_spark-bench",
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": "8m",
                          "spark.sql.files.openCostInBytes": "256k",
                      })
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    # scale the CDC replay with the sf's events table size (20x)
    base_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_events = n_events or max(200_000, base_events * 20)

    timings: dict[str, float] = {}
    # warm the JVM/codegen on a trivial action so the first timed query is fair
    spark.range(1_000_000).count()
    # pay the merge-path JIT once, untimed: a fresh JVM's first replay runs
    # ~5s slower than its second purely from codegen/JIT of the merge plan
    # shapes (measured 18.5 vs 13.4 at sf0.1) — the replay metric is the
    # engine's warm capability, matching the warm/cold split for analytics
    run_cdc_merge(spark, 100_000, n_batches=2)

    # two replays, best-of reported: this VM's hypervisor steal swings
    # single runs ±45-60% (BENCH/BASELINE.md); both raw runs are recorded
    cdc_runs = [run_cdc_merge(spark, n_events) for _ in range(2)]
    cdc = min(cdc_runs, key=lambda r: r["seconds"])
    timings["cdc_merge_replay"] = cdc["seconds"]

    # merge-on-read ingest: write ∝ batch bytes, resolve deferred to
    # compaction (timed separately, not part of the ingest number). Reported
    # per-query but EXCLUDED from the composite "value" so the headline
    # total stays comparable with pre-MOR rounds (it is an added workload,
    # not a cost of the existing one).
    mor_runs = [run_cdc_merge(spark, n_events, mode="mor") for _ in range(2)]
    mor = min(mor_runs, key=lambda r: r["seconds"])
    assert mor["final_rows"] == cdc["final_rows"], "MOR state != CoW state"
    timings["cdc_merge_replay_mor"] = mor["seconds"]

    # each analytic query runs twice: the FIRST execution of heavy codegen
    # (64-aggregate simhash, banded minhash) pays seconds of JVM JIT that
    # swings wildly under hypervisor steal (CLAUDE.md: 9-90s class). The warm
    # (rep-2) number is the engine's actual cost and the headline; cold is
    # recorded alongside so round deltas separate engine from JIT. The cache
    # is CLEARED between reps: the dedup operators persist their signature
    # stores internally, and without the clear the warm rep would read the
    # cold rep's cache (measuring nothing) and the per-query caches would
    # accumulate across the sweep.
    qs = E.queries()
    # re-ingest workloads: every execution is a FULL fresh-table pipeline
    # (N ingest cycles × index join + fenced commit / history build), so
    # rep 2 is not "warmer" than rep 1 — both do identical work and the
    # spread is pure hypervisor-window noise (measured 23-41s on the same
    # query minutes apart). Report best-of-two, matching the replay
    # convention; queries_cold keeps rep 1 for transparency.
    RE_INGEST = {
        "cdc_history", "cdc_asof_state", "doc_minhash_incremental",
        "doc_span_incremental", "corpus_clean_incremental",
        "emb_near_dup_incremental",
    }
    cold_timings: dict[str, float] = {}
    for name in ANALYTIC_QUERIES:
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        cold_timings[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        rep2 = round(time.time() - t0, 3)
        timings[name] = (
            min(cold_timings[name], rep2) if name in RE_INGEST else rep2
        )
        spark.catalog.clearCache()

    # cdc_merge_replay_mor and doc_minhash_incremental are ADDED workloads
    # (the MOR ingest mode; a 3-batch index-ingest replay of the corpus) —
    # reported per-query but excluded from the composite so the headline
    # total stays comparable with earlier rounds' query set
    added = {"cdc_merge_replay_mor", "doc_minhash_incremental",
         "corpus_clean_incremental", "emb_near_dup_incremental",
         "doc_dup_clusters", "doc_decontaminate", "doc_repetition",
         "doc_span_stats", "doc_span_dedup", "doc_span_incremental",
         "event_funnel", "event_retention", "event_quantiles",
         "event_active_users", "event_pivot", "doc_corpus_profile",
         "doc_frequent_ngrams",
         "doc_tfidf_terms", "doc_split_assign",
         "cdc_history", "cdc_asof_state", "doc_pack_sequences", "doc_pack_chunks"}
    total = round(sum(v for k, v in timings.items() if k not in added), 3)
    print(
        json.dumps(
            {
                "metric": "merge_apply_replay_plus_analytics",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold_timings,
                "sf": sf_dir,
                "cdc_events": cdc["events"],
                "cdc_events_per_sec": cdc["events_per_sec"],
                "cdc_runs_sec": [r["seconds"] for r in cdc_runs],
                "cdc_final_rows": cdc["final_rows"],
                "mor_events_per_sec": mor["events_per_sec"],
                "mor_runs_sec": [r["seconds"] for r in mor_runs],
                "mor_compact_sec": mor["compact_seconds"],
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
