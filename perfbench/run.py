"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload stream_freshness --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The exit code is nonzero when any output differs from its
reference. Everything the run writes lives under ``.perfbench/<pid>`` and
is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "1536m"
YOUNG = "256m"
CORES = min(4, os.cpu_count() or 1)
SCALING_WORKLOAD = "stream_freshness"  # the gated CoW CDC workload


def start_session(cores: int, scratch: str):
    """The engine's own session factory at ``local[cores]``, with temp
    files kept inside ``scratch`` and the status store retaining every job
    of a run (the traced runs exceed the default 1,000 stages)."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp
    # every JVM (the spark-submit launcher too) would write hsperfdata to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # A fixed heap and young generation, touched only as used: the driver's
    # peak RSS then follows the old generation's high-water mark (what the
    # program keeps alive) instead of when G1 chose to resize its generations.
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # Python workers import the package (the zone-map harvest runs there)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from battetl_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]", shuffle_partitions=cores, app_name="perfbench",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "256k",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec, setup_s: float, rss: float) -> dict:
    return {
        "setup_s": setup_s,
        "ingest_records_per_s": rec.ingest_rate(),
        "batch_latency_p50_s": median(rec.batch_s),
        "peak_rss_mb": rss,
    }


def per_layer(report: dict, rec, gc_s: float, overhead_s: float, eff: float) -> dict:
    out = {}
    for boundary, measures in report["boundaries"].items():
        for k, v in measures.items():
            out[f"{boundary}.{k}"] = v
    merge = report["boundaries"]["cdc.merge_apply"]
    out["cdc.merge_apply.buckets_touched_ratio"] = median(
        [m[0] for m in rec.merges])
    out["cdc.merge_apply.rows_changed_ratio"] = (
        sum(m[1] for m in rec.merges) / merge["output_records"]
        if merge["output_records"] else 0.0)
    out["cdc.merge_apply.write_amp"] = (
        merge["output_bytes"] / rec.event_bytes if rec.event_bytes else 0.0)
    out["cdc.merge_apply.rebases"] = sum(m[2] for m in rec.merges)
    for k, v in rec.lake.items():
        out[f"lake.{k}"] = v
    for name, key in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                      ("wal_s", "walCommit"), ("planning_s", "queryPlanning")):
        out[f"streaming.{name}"] = median(
            [p.get(key, 0) / 1e3 for p in rec.progress])
    out["analytics.cleaner.kept_ratio"] = rec.kept / rec.seen if rec.seen else 0.0
    out["session.gc_s"] = gc_s
    out["session.jobs_total"] = report["jobs_total"]
    out["trace.overhead_s"] = overhead_s
    out["trace.jobs_unattributed"] = report["jobs_unattributed"]
    out["scaling.eff_1to4"] = eff
    return out


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM, which exits once its stdin
    closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, scratch: str, spec: dict) -> dict:
    t0 = time.perf_counter()
    spark = start_session(args.cores, scratch)
    session_s = time.perf_counter() - t0
    try:
        return measure(args, spark, session_s, scratch, spec)
    finally:
        stop_session(spark)


def measure(args, spark, session_s: float, scratch: str, spec: dict) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Recorder, boundaries

    tracer = Tracer(spark)
    wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(scratch, "work"))
    t0 = time.perf_counter()
    wl.prepare()
    prep_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.preload()
    preload_s = time.perf_counter() - t0
    setup_s = session_s + prep_s + preload_s
    log(f"session {session_s:.1f}s, prepare {prep_s:.1f}s, preload {preload_s:.1f}s")

    rec = Recorder()
    names = [name for _, _, name in boundaries()]
    if args.trace:
        for owner, attr, name in boundaries():
            tracer.instrument(owner, attr, name, observe=(
                wl.observe_merge(rec) if name == "cdc.merge_apply" else None))
        gc0, jobs0 = tracer.gc_seconds(), tracer.jobs_submitted()
        tracer.enabled = True
    t0 = time.perf_counter()
    try:
        wl.loop(args.seconds, rec)
    finally:
        tracer.enabled = False
        tracer.uninstrument()
    t1 = time.perf_counter()
    if args.trace:
        jobs1, gc_s = tracer.jobs_submitted(), tracer.gc_seconds() - gc0
    rss = peak_rss_mb(spark)  # before the references add their own memory
    wl.verify(rec)
    log(f"loop {t1 - t0:.1f}s, batches " + " ".join(f"{b:.2f}s" for b in rec.batch_s)
        + f", verify {time.perf_counter() - t1:.1f}s")

    if not args.trace:
        metrics = end_to_end(rec, setup_s, rss)
    else:
        report = tracer.report(names, jobs0, jobs1)
        if (report["jobs_missing"]
                or report["jobs_attributed"] != report["jobs_in_span_groups"]
                or report["jobs_attributed"] + report["jobs_unattributed"]
                != report["jobs_total"]):
            raise RuntimeError(f"trace job accounting does not reconcile: {report}")
        eff = scaling_efficiency(args, spark, scratch) \
            if args.workload == SCALING_WORKLOAD else 0.0
        metrics = per_layer(report, rec, gc_s, tracer.overhead_s, eff)

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"BENCHMARK.json metrics not measured: {missing}")
    for what in rec.failures:
        print(f"MISMATCH: {what}", file=sys.stderr)
    return {
        "correct": not rec.failures,
        "attempted": rec.attempted,
        "failed": len(rec.failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def scaling_efficiency(args, spark, scratch: str) -> float:
    """N-to-1 core scaling of a bulk CoW replay: the same input files
    replayed here at ``local[N]`` and in a fresh ``local[1]`` process,
    as (rate_N / rate_1) / N."""
    from perfbench.workloads import BulkReplay

    replay = BulkReplay(spark, args.seed, os.path.join(scratch, "scaling"))
    replay.warm_up()
    replay.prepare()
    rate_n = replay.replay_rate()
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--cores", "1",
           "--replay-rate-of", os.path.dirname(replay.paths[0])]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=120)
    if out.returncode != 0:
        raise RuntimeError(f"single-core replay failed:\n{out.stderr[-4000:]}")
    rate_1 = json.loads(out.stdout.strip().splitlines()[-1])["ingest_records_per_s"]
    log(f"replay {rate_n:.0f} ev/s at local[{args.cores}], {rate_1:.0f} at local[1]")
    return rate_n / rate_1 / args.cores


def replay_rate_of(args, scratch: str, inputs_dir: str) -> dict:
    """The single-core side of ``scaling_efficiency``."""
    spark = start_session(args.cores, scratch)
    try:
        from perfbench.workloads import BulkReplay

        replay = BulkReplay(spark, args.seed, os.path.join(scratch, "work"), inputs_dir)
        replay.warm_up()
        replay.prepare()
        return {"ingest_records_per_s": replay.replay_rate()}
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES, help=argparse.SUPPRESS)
    ap.add_argument("--replay-rate-of", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import battetl_spark  # noqa: F401  (fails fast outside a full checkout)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    scratch = os.path.join(ROOT, ".perfbench", str(os.getpid()))
    try:
        if args.replay_rate_of:
            print(json.dumps(replay_rate_of(args, scratch, args.replay_rate_of)))
            return 0
        result = run(args, scratch, spec)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
