"""Seeded benchmark inputs and the independent references they are checked
against.

Change events are a pure function of the benchmark seed and are written to
parquet before timing starts: the change log already exists when a CDC
engine replays it. The documents are a fixed table, split into batches at
cut points drawn from the seed. The references never call the code under
test: current state is a plain window-function LWW over the raw events, and
the cleaner is compared with the batch ``clean_corpus`` pipeline over the
same documents.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from battetl_spark.fixtures import spark_change_events

KEY = ["conv_id", "turn_idx"]
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_last_lsn"]


def batch_seed(seed: int, stream: int, index: int) -> int:
    """Distinct generator seed per (run seed, input stream, batch)."""
    return (seed * 1_000_003 + stream * 10_007 + index) % (2**31 - 1)


def write_event_batches(
    spark: SparkSession,
    out_dir: str,
    seed: int,
    stream: int,
    sizes: list[int],
    n_convs: int,
) -> list[str]:
    """Write one parquet directory per batch, LSN ranges disjoint and
    increasing across batches (hot-key skew alpha=3). Returns the paths."""
    paths, offset = [], 0
    for i, n in enumerate(sizes):
        path = os.path.join(out_dir, f"batch-{i:04d}")
        spark_change_events(
            spark, n, n_convs=n_convs, seed=batch_seed(seed, stream, i)
        ).withColumn("lsn", F.col("lsn") + F.lit(offset)).write.parquet(path)
        paths.append(path)
        offset += n
    return paths


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def lww_state(events: DataFrame) -> DataFrame:
    """Live rows after applying ``events`` in LSN order: the max-LSN event
    of each key wins, and a winning delete removes the key."""
    w = Window.partitionBy(*KEY).orderBy(F.col("lsn").desc())
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "d"))
        .select(*KEY, "role", "text", "tool", "ts", F.col("lsn").alias("_last_lsn"))
    )


def fingerprint(df: DataFrame) -> tuple:
    """Order-independent multiset digest: row count plus two sums of
    seeded 64-bit row hashes (one map-side aggregate, no shuffle)."""
    row = F.to_json(F.struct(*sorted(df.columns)))
    first = df.agg(
        F.count("*"),
        *[F.sum(F.xxhash64(row, F.lit(s)).cast("decimal(38,0)")) for s in (1, 2)],
    ).first()
    return tuple(first)


def same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two frames with the same columns, up to a
    2**-128 chance of a digest collision."""
    return fingerprint(a) == fingerprint(b.select(*a.columns))


# ------------------------------------------------------------- documents

# The sf0.1 ``documents`` table (5,000 docs; seed-42 synthetic test data),
# kept with the benchmark so a run reads nothing outside its checkout.
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")
DOCUMENTS_KEPT = 2_346  # batch clean_corpus rows over all of DOCUMENTS


def documents(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(DOCUMENTS).select("doc_id", "text", "lang")


def document_batches(
    spark: SparkSession, seed: int, first: int, batches: int
) -> list[tuple[int, int, int]]:
    """Split the documents into consecutive doc_id ranges ``[lo, hi)`` and
    their document counts: about ``first`` docs, then ``batches`` ranges of
    near-equal size. The cut points move with ``seed`` by up to a fifth of
    ``first`` and a tenth of a batch (monotone ids, as the ordered cleaner
    requires)."""
    ids = sorted(r[0] for r in documents(spark).select("doc_id").collect())
    rng = random.Random(seed)
    head = round(first * rng.uniform(0.8, 1.2))
    step = (len(ids) - head) / batches
    cuts = [0, head] + [
        head + round(step * (i + rng.uniform(-0.1, 0.1))) for i in range(1, batches)
    ]
    cuts.append(len(ids))
    bounds = [ids[c] for c in cuts[:-1]] + [ids[-1] + 1]
    return [(bounds[i], bounds[i + 1], cuts[i + 1] - cuts[i])
            for i in range(len(cuts) - 1)]
