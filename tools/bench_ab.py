"""Interleaved one-JVM A/B of runtime-settable SQL confs over declared
queries (round-6 session-2 harness; bench.py is FROZEN so this lives apart).

The VM's hypervisor steal swings isolated runs ±45-60% (CLAUDE.md), so A and
B alternate rep-by-rep in ONE JVM: each pair of adjacent samples shares the
same window, and the per-rep deltas are comparable even when the absolute
numbers drift.

Usage:
  python tools/bench_ab.py 'conf1=val1,conf2=val2' q1 q2 ...
  python tools/bench_ab.py '' q1 q2 ...           # A vs A: plain timing + noise floor
  python tools/bench_ab.py --plans SPEC q1 ...    # also write A's plans to plans/r06/<q>_<tag>.*
  python tools/bench_ab.py --noop SPEC q1 ...     # noop-sink action instead of count()
  REPS=3 SPARK_GRAFT_SF_DIR=/tmp/sf1 PLAN_TAG=after python tools/bench_ab.py ...
  REPS=0 PLAN_TAG=x python tools/bench_ab.py --plans '' q1 ...   # plans only

``--plans`` writes A's formatted physical plan to ``<q>_<tag>.txt`` and its
optimized logical plan to ``<q>_<tag>.optimized.txt``, both with the
run-specific noise (expression ids, lambda variable numbers, plan ids,
query-stage ids, temp-dir paths) normalized away — so plan identity between two checkouts is a plain
``diff -r`` of their ``plans/r06`` directories.

A = session defaults; B = the given conf overrides (restored after each B
rep). Prints per-rep samples and the median A/B per query. ``--noop`` runs
each query into the noop sink, which executes the whole plan without the
final count's column pruning (noop-sink isolation).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#x"),
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"QueryStage \d+"), "QueryStage x"),
    # formatted mode prints a query stage's id as its Arguments line
    (re.compile(r"(QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: )\d+"),
     r"\1x"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^\s,\]\)]+"), "<tmp>"),
]


def normalized_plan(text: str) -> str:
    for pat, rep in _PLAN_NOISE:
        text = pat.sub(rep, text)
    return text


def write_plans(df, name: str, tag: str) -> None:
    qe = df._jdf.queryExecution()
    plans = {
        "txt": df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted"),
        "optimized.txt": qe.optimizedPlan().toString(),
    }
    os.makedirs("plans/r06", exist_ok=True)
    for ext, text in plans.items():
        with open(f"plans/r06/{name}_{tag}.{ext}", "w") as f:
            f.write(normalized_plan(text))


def main():
    args = sys.argv[1:]
    flags = {a for a in args if a in ("--plans", "--noop")}
    conf_spec, *names = [a for a in args if a not in flags]
    overrides = dict(kv.split("=", 1) for kv in conf_spec.split(",") if kv)
    reps = int(os.environ.get("REPS", "3"))
    tag = os.environ.get("PLAN_TAG", "before")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from battetl_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                      app_name="battetl_spark-bench-ab",
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": "8m",
                          "spark.sql.files.openCostInBytes": "256k",
                      })
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()
    spark.range(1_000_000).count()

    baseline = {k: spark.conf.get(k, None) for k in overrides}

    def set_conf(active: bool):
        for k, v in (overrides if active else baseline).items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def run(name):
        df = qs[name](spark, sf_dir)
        if "--noop" in flags:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    results = {}
    for name in names:
        if "--plans" in flags:
            # A's plans (session defaults), tagged by PLAN_TAG
            write_plans(qs[name](spark, sf_dir), name, tag)
            spark.catalog.clearCache()
        if not reps:
            continue
        a_samples, b_samples = [], []
        # warm both variants once (JIT) before timing
        for active in (False, True):
            set_conf(active)
            run(name)
            spark.catalog.clearCache()
        for _ in range(reps):
            for active, sink in ((False, a_samples), (True, b_samples)):
                set_conf(active)
                spark.sparkContext.setJobDescription(
                    f"ab:{name}:{'B' if active else 'A'}")
                t0 = time.time()
                run(name)
                sink.append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
        set_conf(False)
        results[name] = {
            "A": a_samples, "B": b_samples,
            "A_med": round(statistics.median(a_samples), 3),
            "B_med": round(statistics.median(b_samples), 3),
        }
        print(json.dumps({name: results[name]}), flush=True)
    print("== SUMMARY ==")
    for name, r in results.items():
        d = r["B_med"] - r["A_med"]
        print(f"{name}: A={r['A_med']} B={r['B_med']} delta={d:+.3f}")


if __name__ == "__main__":
    main()
