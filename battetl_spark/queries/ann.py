"""Embedding similarity / ANN operators over the embeddings table (build brief).

Moved verbatim from __spark_entry__.py (round 5: the query surface split
by family so per-query driver plan-build cost attributes to one module).
Each docstring cites its reference analog file:line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from battetl_spark.queries._shared import _ingest_residues, _scratch, _t


def q_ann_cosine_topk(spark, sf):
    """Brute-force exact cosine top-k (oracle: DuckDB list_dot_product)."""
    from battetl_spark.analytics.similarity import cosine_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=10)


def _planted_embeddings(spark, sf):
    """The embeddings plus perturbed copies (x*0.999 + 0.0003, vec_id+100000)
    of vec_id<25: the corpus both emb_near_dup queries search."""
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.999 + 0.0003).alias("embedding"),
    )
    return emb.unionByName(planted)


def q_emb_near_dup(spark, sf):
    """Embedding-cosine near-dup pairs (the embedding member of the dedup
    family): banded hyperplane-LSH candidates + exact-cosine verify. The
    corpus's natural max pair cosine is ~0.5, so the query PLANTS dups —
    perturbed copies (x*0.999 + 0.0003, vec_id+100000) of vec_id<25 — and
    the exhaustive all-pairs DuckDB oracle verifies the emitted pairs carry
    information (round-2 verdict: de-vacuize this oracle). Verification is
    the exact cosine (filter on raw, emit rounded), so the banded LSH only
    has to not MISS pairs at cos≈0.999 (miss prob ~1e-38)."""
    from battetl_spark.analytics.similarity import embedding_near_dup_pairs

    # dim=64 is the embeddings table's schema contract (same constant the
    # ann_* queries pass) — skips the signs-frame max-size probe job
    return embedding_near_dup_pairs(_planted_embeddings(spark, sf),
                                    threshold=0.9, dim=64)


def q_emb_near_dup_incremental(spark, sf):
    """Incremental embedding near-dup against a persisted hyperplane-LSH
    index (round-5): same planted corpus as emb_near_dup, ingested as three
    batches through analytics.EmbeddingIndex — the stored flip masks let an
    OLD smaller id probe toward a new vector's bucket, so the per-batch
    union equals the batch operator (and the exhaustive oracle) exactly."""
    from battetl_spark.analytics.sig_index import EmbeddingIndex

    idx = EmbeddingIndex.create(spark, _scratch("emb_incr_") + "/idx")
    # dim=64 is the embeddings table's schema contract (the same constant
    # the batch query passes) — skips the per-batch signs-frame max-size
    # probe job
    return _ingest_residues(
        _planted_embeddings(spark, sf), "vec_id",
        lambda b: idx.add_batch(b, threshold=0.9, dim=64),
    )


def q_ann_lsh_topk(spark, sf):
    """LSH-bucketed ANN (scale path). Hyperplanes are md5-derived ±1 literal
    arrays and bucket bits come from ORDER-INDEPENDENT integer-quantized
    dots, so DuckDB computes identical buckets and the full approximate
    pipeline is oracle-verified end-to-end."""
    from battetl_spark.analytics.similarity import lsh_cosine_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_cosine_topk(emb, queries, dim=64, k=10, num_planes=4)


def q_ann_ivf_topk(spark, sf):
    """IVF-style ANN: label-cell coarse quantizer, nprobe=2, exact re-rank
    inside probed cells. Centroids are rounded per-dim means → the full
    approximate pipeline is reproduced by the DuckDB oracle."""
    from battetl_spark.analytics.similarity import ivf_cosine_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_cosine_topk(emb, queries, dim=64, k=10, nprobe=2)
