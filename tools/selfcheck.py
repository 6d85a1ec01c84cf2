"""Self-check: run every __spark_entry__ query against its DuckDB oracle at
a given sf dir (default sf0.01), compare row count, column names, and
order-insensitive values — a local mirror of the driver's correctness gate.

Usage: python tools/selfcheck.py [sf_dir] [only_query_name]

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default 16) with as many shuffle
partitions, and clears the Spark cache after each builder. Each result
line is flushed as it is printed, and the last line reads
``N OK, M failures of K queries``.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from battetl_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df, cols):
    """Order-insensitive canonical form: sorted list of per-row tuples over
    name-sorted columns, with float rounding tolerance applied upstream."""
    rows = []
    for t in df[cols].itertuples(index=False):
        norm = []
        for v in t:
            if isinstance(v, float):
                if math.isnan(v):
                    norm.append("NaN")
                else:
                    norm.append(round(v, 9))
            else:
                norm.append(str(v))
        rows.append(tuple(norm))
    return sorted(rows)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    # one result per line, whole, even when Spark's progress bar shares
    # the stream
    sys.stdout.reconfigure(line_buffering=True)
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                      app_name="selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    ok = checked = 0
    for name, fn in qs.items():
        if only and name != only:
            continue
        checked += 1
        try:
            got = fn(spark, sf).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error {str(ex)[:200]}")
            continue
        finally:
            # a builder's persisted frames must not pile up in the one JVM
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle — rows-only)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as ex:
            failures.append((name, f"ORACLE ERROR: {ex}"))
            print(f"FAIL  {name}: oracle error {str(ex)[:200]}")
            continue
        g_cols, e_cols = sorted(got.columns), sorted(exp.columns)
        if g_cols != e_cols:
            failures.append((name, f"columns {g_cols} vs {e_cols}"))
            print(f"FAIL  {name}: columns {g_cols} vs {e_cols}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rowcount {len(got)} vs {len(exp)}"))
            print(f"FAIL  {name}: rowcount {len(got)} vs {len(exp)}")
            continue
        cg, ce = canon(got, g_cols), canon(exp, g_cols)
        if cg != ce:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(cg, ce)) if a != b
            )
            failures.append((name, f"values differ at {bad[0]}: {bad[1]} vs {bad[2]}"))
            print(f"FAIL  {name}: first diff {bad[1]} vs {bad[2]}")
            continue
        ok += 1
        print(f"OK    {name}: {len(got)} rows")
    print(f"\n{ok} OK, {len(failures)} failures of {checked} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
