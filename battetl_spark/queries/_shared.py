"""Shared plumbing for the driver-contract query modules."""

from __future__ import annotations

import atexit
import shutil
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch(prefix: str) -> str:
    """A fresh temp directory for a builder's persisted state, removed at
    process exit: the returned frame reads that state lazily, so the
    directory must outlive the builder."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _ingest_residues(df: DataFrame, id_col: str, add, order=(0, 1, 2)) -> DataFrame:
    """Feed ``df`` to ``add`` as its ``id_col`` mod-3 residue batches, in
    ``order``, and union the per-batch outputs."""
    outs = [add(df.filter(F.pmod(F.col(id_col), F.lit(3)) == i)) for i in order]
    return reduce(lambda a, b: a.unionByName(b), outs)
