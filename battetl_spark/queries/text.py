"""Text training-data operators over the documents table (build brief).

Moved verbatim from __spark_entry__.py (round 5: the query surface split
by family so per-query driver plan-build cost attributes to one module).
Each docstring cites its reference analog file:line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from battetl_spark.queries._shared import _ingest_residues, _scratch, _t


def q_doc_exact_dedup(spark, sf):
    from battetl_spark.analytics.textops import exact_dedup

    return exact_dedup(_t(spark, sf, "documents"))


def q_doc_token_count(spark, sf):
    from battetl_spark.analytics.textops import token_count

    d = _t(spark, sf, "documents")
    return d.select("doc_id", token_count("text").alias("n_tokens"))


def q_doc_quality(spark, sf):
    from battetl_spark.analytics.textops import quality_features

    d = _t(spark, sf, "documents")
    return quality_features(d).select(
        "doc_id", "q_n_tokens", "q_punct_ratio", "q_stop_ratio", "q_score"
    )


def q_doc_langid(spark, sf):
    from battetl_spark.analytics.textops import lang_id

    d = _t(spark, sf, "documents")
    return lang_id(d).groupBy("pred_lang").agg(F.count("*").alias("n_docs"))


def q_doc_fingerprint(spark, sf):
    from battetl_spark.analytics.textops import normalized_text

    d = _t(spark, sf, "documents")
    return d.select("doc_id", F.md5(normalized_text("text")).alias("content_md5"))


def q_doc_bpe_tokens(spark, sf):
    from battetl_spark.analytics.textops import bpe_ish_token_count

    d = _t(spark, sf, "documents")
    return d.select("doc_id", bpe_ish_token_count("text").alias("n_pieces"))


def q_doc_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard pairs via prefix-filter (AllPairs/PPJoin)
    blocking — GUARANTEED recall, so the output equals the exhaustive
    all-pairs DuckDB oracle exactly."""
    from battetl_spark.analytics.textops import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.4)


def q_doc_minhash_dedup(spark, sf):
    """MinHash-LSH candidates + exact-Jaccard verify: emitted pairs equal the
    exhaustive all-pairs answer (per-pair miss prob ~8e-8 at j=0.8 with
    16 bands of 2 hashes; the corpus's true pairs sit at j>=0.8), so the
    DuckDB oracle is the ground truth. rows_per_band='auto' (round 5) stays
    at r=2 at driver SFs (candidate mass under budget → identical results)
    and escalates only on low-entropy corpora where fixed r=2 explodes."""
    from battetl_spark.analytics.textops import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf, "documents"),
        num_hashes=32,
        jaccard_threshold=0.8,
        rows_per_band="auto",
        verify="exact",
    )


def q_doc_minhash_incremental(spark, sf):
    """Incremental near-dup against a PERSISTED signature index (round-5):
    the corpus arrives as three deterministic batches (doc_id mod 3); each
    batch computes only its own signatures, band-joins against the stored
    index + itself, exact-verifies, and appends its signatures. The union
    of per-batch pair outputs must equal the full-corpus exhaustive oracle
    (every unordered pair is found exactly once, by the batch ingesting its
    later member). Mirrors the reference's only-new-rows incremental load
    (/root/reference/battetl/load/Loader.py:144-234)."""
    from battetl_spark.analytics.sig_index import MinHashIndex

    idx = MinHashIndex.create(spark, _scratch("mh_incr_") + "/idx")
    return _ingest_residues(
        _t(spark, sf, "documents"), "doc_id",
        lambda b: idx.add_batch(b, jaccard_threshold=0.8),
    )


def q_doc_dup_clusters(spark, sf):
    """Near-dup CLUSTER formation: exact-verified minhash pairs (the
    oracle-green doc_minhash_dedup graph) closed transitively by distributed
    large-star/small-star connected components; every document labeled with
    its cluster's minimum doc_id (itself when it has no near-dups). The
    DuckDB oracle recomputes the exhaustive pair graph and closes it with a
    recursive CTE — ground-truth transitive closure."""
    from battetl_spark.analytics.graph import dup_clusters
    from battetl_spark.analytics.textops import minhash_lsh_pairs

    docs = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        num_hashes=32,
        jaccard_threshold=0.8,
        rows_per_band="auto",
        verify="exact",
    )
    return dup_clusters(docs, pairs)


def q_doc_cluster_reps(spark, sf):
    """Canonical keep-set selection: each transitive near-dup cluster keeps
    its LONGEST member (n_chars desc, min-id tiebreak — integer priority so
    the DuckDB argmax reproduces exactly), with member counts. Composes
    dup_clusters with a partial-aggregated struct max_by."""
    from battetl_spark.analytics.graph import cluster_representatives

    docs = _t(spark, sf, "documents")
    clusters = q_doc_dup_clusters(spark, sf)
    return cluster_representatives(docs, clusters)


def q_doc_dup_clusters_incremental(spark, sf):
    """Cluster formation over INCREMENTALLY discovered pairs: the corpus
    ingests as three batches through a persisted MinHashIndex (each batch
    signs only itself and band-joins the stored index — the oracle-green
    doc_minhash_incremental path), the per-batch pair outputs union into
    the full pair graph, and connected components close it. Final labels
    must equal the batch doc_dup_clusters answer (ground truth: the
    recursive-CTE transitive closure of the exhaustive pair graph)."""
    from battetl_spark.analytics.graph import dup_clusters
    from battetl_spark.analytics.sig_index import MinHashIndex

    docs = _t(spark, sf, "documents")
    idx = MinHashIndex.create(spark, _scratch("mh_cc_") + "/idx")
    pairs = _ingest_residues(
        docs, "doc_id", lambda b: idx.add_batch(b, jaccard_threshold=0.8)
    )
    return dup_clusters(docs, pairs)


def q_doc_decontaminate(spark, sf):
    """Eval-set decontamination: deterministic eval slice (doc_id % 97 == 0)
    vs the rest as the training set; every training doc sharing a 3-word
    shingle with any eval doc is flagged with its distinct-shared-shingle
    count. Eval shingles broadcast; the corpus never shuffles rows."""
    from battetl_spark.analytics.textops import decontaminate

    docs = _t(spark, sf, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(97)) == 0
    return decontaminate(docs.filter(~is_eval), docs.filter(is_eval), k=3)


def q_doc_repetition(spark, sf):
    """Gopher-style repetition signals (top-bigram fraction via an in-row
    sorted-hash max-run fold, duplicate-trigram fraction) — zero shuffle;
    the oracle recomputes both from shingle strings with group-bys."""
    from battetl_spark.analytics.textops import repetition_features

    docs = _t(spark, sf, "documents")
    return repetition_features(docs).select(
        "doc_id", "top_bigram_frac", "dup_trigram_frac"
    )


def q_doc_redact_pii(spark, sf):
    """PII scrubbing: every doc's text is augmented with deterministic
    synthetic PII (email / IP / SSN / phone derived from doc_id — the raw
    corpus has none, this keeps the check non-vacuous) and redacted by the
    RE2-safe pattern chain. The oracle applies the identical chain in
    DuckDB — byte-identical output proves the patterns are engine-portable."""
    from battetl_spark.analytics.textops import redact_pii

    docs = _t(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.1."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".7 ssn 123-45-6789 call +1 (555) 010-"),
        (F.lit(1000) + F.pmod(F.col("doc_id"), F.lit(9000))).cast("string"),
    )
    return docs.select("doc_id", redact_pii(aug).alias("redacted"))


def q_doc_simhash(spark, sf):
    """SimHash near-dup pairs — signatures are md5-hex bit votes (pure
    Catalyst), blocking is the 4×16-bit pigeonhole (guaranteed recall at
    hamming<=3), so DuckDB reproduces the output bit-for-bit."""
    from battetl_spark.analytics.textops import simhash_near_dups

    return simhash_near_dups(_t(spark, sf, "documents"), max_hamming=3)


def q_corpus_clean(spark, sf):
    """The composed training-data cleaning pipeline: language filter →
    quality filter → exact dedup → exact-verified near-dup dedup. Every
    stage reuses an oracle-green operator, so the whole pipeline is
    oracle-verified end-to-end."""
    from battetl_spark.analytics.textops import clean_corpus

    return clean_corpus(
        _t(spark, sf, "documents"), min_quality=0.5, langs=("en", "de")
    )


def _cleaner(spark, path, **kw):
    """An IncrementalCorpusCleaner with q_corpus_clean's filter settings."""
    from battetl_spark.analytics.clean_stream import IncrementalCorpusCleaner

    return IncrementalCorpusCleaner.create(
        spark, path, min_quality=0.5, langs=("en", "de"), **kw
    )


def q_corpus_clean_incremental(spark, sf):
    """Round-5 capstone: the SAME cleaning pipeline maintained
    incrementally — three monotone doc_id batches flow through
    IncrementalCorpusCleaner (persisted digest + minhash signature state,
    output maintained via the engine's own fenced merge path); the final
    table state must equal the batch clean_corpus answer, so the oracle is
    identical to corpus_clean's."""
    docs = _t(spark, sf, "documents")
    cl = _cleaner(spark, _scratch("cln_incr_") + "/c")
    lo, hi = (int(x) for x in docs.approxQuantile("doc_id", [0.33, 0.66], 0.0))
    conds = [
        F.col("doc_id") <= lo,
        (F.col("doc_id") > lo) & (F.col("doc_id") <= hi),
        F.col("doc_id") > hi,
    ]
    for i, cond in enumerate(conds):
        cl.add_batch(docs.filter(cond), epoch_id=i)
    return cl.result()


def q_corpus_clean_ooo(spark, sf):
    """Out-of-order incremental cleaning: the batches are doc_id mod-3
    residue classes, so every batch after the first is ENTIRELY below the
    previous batch's max id — late smaller arrivals displace earlier
    decisions and the cleaner emits CDC delete retractions through the
    fenced merge (demoted exact winners + newly-dropped survivors). The
    final state must still equal the batch clean_corpus answer, so the
    oracle is identical to corpus_clean_incremental's."""
    docs = _t(spark, sf, "documents")
    cl = _cleaner(spark, _scratch("cln_ooo_") + "/c", ordered=False)
    for epoch, residue in enumerate((2, 0, 1)):
        cl.add_batch(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == residue),
            epoch_id=epoch,
        )
    return cl.result()


def q_corpus_clean_stream(spark, sf):
    """The Structured Streaming cleaner surface under the driver's
    correctness gate: mod-3 residue files written to a drop folder, tailed
    by readStream one file per microbatch (discovery order is not id
    order), each batch cleaned incrementally through the fenced merge by
    the out-of-order cleaner. Must converge to the batch clean_corpus
    answer, so the oracle is identical to corpus_clean_incremental's."""
    import os

    from battetl_spark.analytics.clean_stream import CleanerStream, read_document_stream

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    d = _scratch("cln_strm_")
    for residue in (2, 0, 1):
        (
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == residue)
            .coalesce(1).write.mode("append").parquet(os.path.join(d, "drop"))
        )
    cl = _cleaner(spark, os.path.join(d, "c"), ordered=False)
    CleanerStream(cl, os.path.join(d, "ckpt")).run_to_completion(
        read_document_stream(spark, os.path.join(d, "drop"))
    )
    return cl.result()


def q_doc_ngram_incremental(spark, sf):
    """Incremental exact n-gram Jaccard against a persisted shingle index
    (round-5): prefix filtering has GUARANTEED recall under the stored
    global hash order, so the three-batch union equals the batch operator
    and the exhaustive oracle exactly — the strongest-contract member of
    the incremental dedup family."""
    from battetl_spark.analytics.sig_index import NgramIndex

    idx = NgramIndex.create(spark, _scratch("ng_incr_") + "/idx")
    return _ingest_residues(
        _t(spark, sf, "documents"), "doc_id",
        lambda b: idx.add_batch(b, threshold=0.4),
    )


SPAN_K = 8


def q_doc_span_stats(spark, sf):
    """Exact substring (k-token span) duplication profile per document —
    the Lee et al. 2022 span-granular contamination signal the doc-level
    near-dup family can't see. One span explode, one hash groupBy, one
    doc fold; coverage is an in-row interval-merge aggregate."""
    from battetl_spark.analytics.spans import span_dedup_stats

    return span_dedup_stats(_t(spark, sf, "documents"), SPAN_K)


def q_doc_span_dedup(spark, sf):
    """Span-dedup the corpus: strip every token covered by a cross-document
    duplicate SPAN_K-token span, keeping the unique remainder in document
    order (both occurrences stripped). Kept text reassembles from slice
    views over the inverted duplicate islands — no per-token search."""
    from battetl_spark.analytics.spans import strip_duplicated_spans

    return strip_duplicated_spans(_t(spark, sf, "documents"), SPAN_K)


TFIDF_TOP_N = 5


def q_doc_tfidf_terms(spark, sf):
    """Top-5 TF-IDF terms per document (rational idf (N+1)/(df+1) — every
    arithmetic step IEEE-exact or correctly rounded, so ranking and scores
    reproduce bit-for-bit in DuckDB). Two partial-aggregated shuffles +
    one broadcast of the corpus size + a per-doc ranking window."""
    from battetl_spark.analytics.terms import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), TFIDF_TOP_N)


def q_doc_span_incremental(spark, sf):
    """Incremental exact-substring dedup against a persisted occurrence
    index (SpanIndex): three mod-3 batches ingested in a shuffled order;
    duplicate status is monotone under insert-only input and transitions
    back-emit stored occurrences, so the per-batch union equals the batch
    operator's duplicate-occurrence set under ANY batch partitioning."""
    from battetl_spark.analytics.sig_index import SpanIndex

    idx = SpanIndex.create(spark, _scratch("sp_incr_") + "/idx", span_k=SPAN_K)
    return _ingest_residues(
        _t(spark, sf, "documents"), "doc_id", idx.add_batch, order=(1, 2, 0)
    )


FREQ_NGRAM_N = 2
FREQ_NGRAM_MIN_DF = 5


def q_doc_frequent_ngrams(spark, sf):
    """Corpus heavy hitters: every word bigram in >= FREQ_NGRAM_MIN_DF
    distinct documents with its document frequency + total occurrences —
    a deterministic threshold set (no top-k cut). Shifted-slice n-gram
    build (no per-element re-expansion) + the two partial-aggregated
    tfidf-ladder shuffles; the rollup counts already-distinct (doc, ngram)
    pairs, never a count-distinct."""
    from battetl_spark.analytics.terms import frequent_ngrams

    return frequent_ngrams(
        _t(spark, sf, "documents"), n=FREQ_NGRAM_N, min_df=FREQ_NGRAM_MIN_DF
    )
