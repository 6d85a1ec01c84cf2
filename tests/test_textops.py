"""Training-data pipeline operators over the driver's documents/embeddings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from battetl_spark.analytics import textops as TX
from battetl_spark.analytics.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_media,
)
from battetl_spark.analytics.similarity import cosine_topk, lsh_cosine_topk

pytestmark = pytest.mark.textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup(spark, docs):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dups = docs.unionByName(dup)
    out = TX.exact_dedup(with_dups)
    assert out.filter("n_copies = 2").count() == 3
    # winners are the original (min) ids
    assert out.filter("n_copies = 2").filter("keep_id >= 1000000").count() == 0


def test_token_count_and_quality(spark, docs):
    q = TX.quality_features(docs)
    row = q.orderBy("doc_id").first()
    assert row.q_n_tokens == len(row.text.split())
    assert 0.0 <= row.q_score <= 1.0
    assert q.filter("q_stop_ratio > 1").count() == 0


def test_lang_id_deterministic(spark, docs):
    out = TX.lang_id(docs).groupBy("pred_lang").count()
    preds = {r.pred_lang for r in out.collect()}
    assert preds <= {"en", "es", "de", "fr", "und"}


def test_fingerprint_stable_under_noise(spark, docs):
    fp1 = TX.fingerprint(docs)
    noisy = docs.withColumn("text", F.concat(F.upper("text"), F.lit("!!!")))
    fp2 = TX.fingerprint(noisy)
    j = fp1.alias("a").join(fp2.alias("b"), "doc_id").select(
        (F.col("a.content_md5") == F.col("b.content_md5")).alias("same")
    )
    assert j.filter("not same").count() == 0  # normalization washes noise out


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    # plant near-dups: copy 5 docs with one appended word
    planted = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("doc_id", F.col("doc_id") + 500_000)
        .withColumn("text", F.concat("text", F.lit(" tail")))
    )
    corpus = docs.unionByName(planted)
    pairs = TX.minhash_lsh_pairs(corpus, jaccard_threshold=0.5)
    hits = pairs.filter("id_b - id_a = 500000").count()
    assert hits >= 4  # minhash is probabilistic; ≥4/5 at j≈0.95
    # planted copies share many bands: each candidate pair is emitted once
    keys = pairs.select("id_a", "id_b").collect()
    assert len(keys) == len(set(keys))


def test_cache_scope_releases_operator_persists(spark, docs):
    """ADVICE fix: the near-dup operators persist signature frames with no
    in-function unpersist point; cache_scope() must release every frame
    persisted inside it once the caller materialized its results — a
    long-lived session sweeping many corpora stops accumulating caches."""
    from battetl_spark.analytics import cache_scope
    from battetl_spark.analytics.cache import _scope_stack

    with cache_scope():
        TX.minhash_lsh_pairs(docs.limit(50), jaccard_threshold=0.5).collect()
        assert _scope_stack and len(_scope_stack[-1]) >= 1
        assert all(df.is_cached for df in _scope_stack[-1])
        tracked = list(_scope_stack[-1])
    assert not _scope_stack
    assert all(not df.is_cached for df in tracked)


def test_ngram_jaccard_pairs(spark, docs):
    planted = (
        docs.orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + 500_000)
    )
    pairs = TX.ngram_jaccard_pairs(docs.unionByName(planted), threshold=0.99)
    assert pairs.filter("id_b - id_a = 500000").count() == 3  # exact copies j=1


def test_simhash_near_dups(spark, docs):
    planted = (
        docs.orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + 500_000)
    )
    out = TX.simhash_near_dups(docs.unionByName(planted), max_hamming=0)
    assert out.filter("id_b - id_a = 500000").count() == 3


def test_cosine_topk_exact(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=5).toPandas()
    assert set(out.groupby("query_id").size()) == {5}
    assert (out.cos_sim <= 1.000001).all()
    # ranks ordered by similarity
    for _, g in out.groupby("query_id"):
        s = g.sort_values("rank").cos_sim.tolist()
        assert s == sorted(s, reverse=True)


def test_lsh_degenerate_equals_exact(spark, emb):
    """num_planes=0 → one bucket → the LSH path must equal brute force
    (machinery equivalence; recall at >0 planes is data-dependent)."""
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, queries, k=3).toPandas()
    approx = lsh_cosine_topk(emb, queries, dim=64, k=3, num_planes=0).toPandas()
    key = ["query_id", "rank"]
    assert (
        exact.sort_values(key).reset_index(drop=True)[["query_id", "vec_id", "rank"]]
        .equals(
            approx.sort_values(key).reset_index(drop=True)[
                ["query_id", "vec_id", "rank"]
            ]
        )
    )


def test_lsh_bucketed_results_valid(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_cosine_topk(emb, queries, dim=64, k=3, num_planes=4).toPandas()
    assert (out.groupby("query_id").size() <= 3).all()
    for _, g in out.groupby("query_id"):
        s = g.sort_values("rank").cos_sim.tolist()
        assert s == sorted(s, reverse=True)


def test_multimodal_real_codecs(spark):
    """Round-trip the stdlib codecs and the Spark operators over them."""
    import numpy as np

    from battetl_spark.analytics.multimodal import (
        decode_bmp,
        decode_video_frame,
        decode_wav,
        encode_bmp,
        encode_video,
        encode_wav,
        resize_images,
        sample_frames,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)  # exact round-trip
    samples = (10_000 * np.sin(np.arange(4000) / 10.0)).astype(np.int16)
    got, rate = decode_wav(encode_wav(samples, 16_000))
    assert rate == 16_000 and np.array_equal(got, samples)
    frames = [rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8) for _ in range(4)]
    vid = encode_video(frames, fps=10)
    assert np.array_equal(decode_video_frame(vid, 2), frames[2])

    media = synthetic_media(spark, 30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    # image features carry real dimensions (h, w at positions 4, 5)
    meta = {r.media_id: r for r in media.collect()}
    for r in rows:
        if meta[r.media_id].kind == "image":
            assert int(r.feature[4]) == meta[r.media_id].height
            assert int(r.feature[5]) == meta[r.media_id].width

    resized = resize_images(media, 4, 4)
    for r in resized.filter("kind = 'image'").collect():
        arr = decode_bmp(bytes(r.payload))
        assert arr.shape == (4, 4, 3) and r.width == 4 and r.height == 4
    # non-image payloads untouched
    a0 = {r.media_id: bytes(r.payload) for r in media.filter("kind='audio'").collect()}
    a1 = {r.media_id: bytes(r.payload) for r in resized.filter("kind='audio'").collect()}
    assert a0 == a1

    plan = frame_sample_plan(media, every_ms=200)
    assert plan.groupBy("media_id").count().first()["count"] >= 1
    sampled = sample_frames(media, every_ms=200).collect()
    assert sampled and all(0.0 <= v <= 1.0 for r in sampled for v in r.mean_rgb)
    # frame indices within each video's frame count
    assert all(r.frame_idx >= 0 for r in sampled)


def test_ivf_full_probe_equals_exact(spark, emb):
    """nprobe = all cells → IVF must equal brute force (machinery
    equivalence; recall at lower nprobe is data/quantizer-dependent)."""
    from battetl_spark.analytics.similarity import ivf_cosine_topk

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    n_cells = emb.select("label").distinct().count()
    exact = cosine_topk(emb, queries, k=4).toPandas()
    ivf = ivf_cosine_topk(emb, queries, dim=64, k=4, nprobe=n_cells).toPandas()
    key = ["query_id", "rank"]
    assert (
        exact.sort_values(key).reset_index(drop=True)[["query_id", "vec_id", "rank"]]
        .equals(ivf.sort_values(key).reset_index(drop=True)[["query_id", "vec_id", "rank"]])
    )


def test_ivf_partial_probe_valid(spark, emb):
    from battetl_spark.analytics.similarity import ivf_cosine_topk

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_cosine_topk(emb, queries, dim=64, k=3, nprobe=2).toPandas()
    assert (out.groupby("query_id").size() <= 3).all()
    for _, g in out.groupby("query_id"):
        s = g.sort_values("rank").cos_sim.tolist()
        assert s == sorted(s, reverse=True)


def test_minhash_estimate_path(spark, docs):
    """verify='estimate' (signature-only, for scales where fetching shingle
    sets is too expensive): planted near-dups still surface."""
    planted = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("doc_id", F.col("doc_id") + 500_000)
        .withColumn("text", F.concat("text", F.lit(" tail")))
    )
    corpus = docs.unionByName(planted)
    pairs = TX.minhash_lsh_pairs(corpus, jaccard_threshold=0.5, verify="estimate")
    assert pairs.columns == ["id_a", "id_b", "est_jaccard"]
    hits = pairs.filter("id_b - id_a = 500000").count()
    assert hits >= 4  # estimate is probabilistic; >=4/5 at j~0.95


def test_prefix_filter_order_equivalence(spark, docs):
    """Prefix-filter recall is guaranteed under ANY global order: frequency
    ordering (AllPairs) and plain hash ordering must emit identical pairs."""
    freq = TX.ngram_jaccard_pairs(docs, threshold=0.4).toPandas()
    hsh = TX.ngram_jaccard_pairs(docs, threshold=0.4, order_by="hash").toPandas()
    key = ["id_a", "id_b"]
    assert (
        freq.sort_values(key).reset_index(drop=True)
        .equals(hsh.sort_values(key).reset_index(drop=True))
    )


def test_kmeans_quantizer_and_ivf(spark, emb):
    """Distributed Lloyd's trainer: deterministic across runs, objective
    non-increasing, assignments valid; kmeans-IVF returns ranked neighbors;
    full probe of trained cells == brute force."""
    import numpy as np

    from battetl_spark.analytics.similarity import (
        assign_cells,
        kmeans_ivf_topk,
        train_kmeans_cells,
    )

    c1 = train_kmeans_cells(emb, dim=64, n_cells=4, iters=3)
    c2 = train_kmeans_cells(emb, dim=64, n_cells=4, iters=3)
    assert c1 == c2  # deterministic
    assert len(c1) == 4 and all(len(c) == 64 for c in c1)

    cells = assign_cells(emb, c1).toPandas()
    assert set(cells.cell.unique()) <= {0, 1, 2, 3}
    assert len(cells) == emb.count()

    # objective (mean squared distance to assigned centroid) improves with
    # more iterations (or stays equal at convergence)
    def objective(cents):
        pdf = emb.toPandas()
        vecs = np.stack(pdf.embedding.values).astype(float)
        d = ((vecs[:, None, :] - np.array(cents)[None, :, :]) ** 2).sum(-1)
        return d.min(axis=1).mean()

    c0 = train_kmeans_cells(emb, dim=64, n_cells=4, iters=1)
    assert objective(c1) <= objective(c0) + 1e-9

    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    out = kmeans_ivf_topk(emb, queries, dim=64, k=3, nprobe=2, n_cells=4).toPandas()
    assert (out.groupby("query_id").size() <= 3).all()
    full = kmeans_ivf_topk(
        emb, queries, dim=64, k=3, nprobe=4, n_cells=4
    ).toPandas()
    exact = cosine_topk(emb, queries, k=3).toPandas()
    key = ["query_id", "rank"]
    assert (
        exact.sort_values(key).reset_index(drop=True)[["query_id", "vec_id"]]
        .equals(full.sort_values(key).reset_index(drop=True)[["query_id", "vec_id"]])
    )


def test_embedding_near_dup_pairs(spark, emb):
    """Planted near-dup embeddings (tiny perturbation, cos ≈ 0.9995) are all
    recovered; the clean corpus (max pair cos ≈ 0.5) yields nothing."""
    import numpy as np

    from battetl_spark.analytics.similarity import embedding_near_dup_pairs

    pdf = emb.limit(5).toPandas()
    rng = np.random.default_rng(3)
    pdf["vec_id"] = pdf["vec_id"] + 500_000
    pdf["embedding"] = [
        (np.array(v, dtype=np.float32) + rng.normal(0, 0.01, len(v)).astype(np.float32)).tolist()
        for v in pdf["embedding"]
    ]
    corpus = emb.unionByName(spark.createDataFrame(pdf, emb.schema))
    out = embedding_near_dup_pairs(corpus, threshold=0.9).toPandas()
    assert set(out.id_b - out.id_a) == {500_000} and len(out) == 5
    assert (out.cos_sim >= 0.9).all()
    # clean corpus: no pair is near-dup at 0.9
    assert embedding_near_dup_pairs(emb, threshold=0.9).count() == 0


def test_embedding_near_dup_boundary_multiprobe(spark, emb):
    """Round-3 verdict task #5: pairs planted AT the threshold boundary
    (cos ∈ [0.905, 0.92], where exact-bucket banding missed ~13%) must all
    be recovered by the default query-directed multi-probe; probes=0 keeps
    the old exact-bucket behavior, and emitted pairs stay exact either
    way."""
    import numpy as np

    from battetl_spark.analytics.similarity import embedding_near_dup_pairs

    pdf = emb.limit(10).toPandas()
    rng = np.random.default_rng(7)
    planted = []
    for i, row in pdf.iterrows():
        u = np.array(row["embedding"], dtype=np.float64)
        u /= np.linalg.norm(u)
        w = rng.normal(0, 1, len(u))
        w -= w.dot(u) * u
        w /= np.linalg.norm(w)
        target = 0.905 + 0.0015 * i  # cos ∈ [0.905, 0.9185]
        v = target * u + np.sqrt(1 - target * target) * w
        planted.append({
            "vec_id": int(row["vec_id"]) + 500_000,
            "embedding": (v * 10.0).astype(np.float32).tolist(),
            "label": int(row["label"]),
        })
    import pandas as pd

    cols = [f.name for f in emb.schema.fields]
    corpus = emb.unionByName(
        spark.createDataFrame(pd.DataFrame(planted)[cols], emb.schema)
    )
    out = embedding_near_dup_pairs(corpus, threshold=0.9).toPandas()
    boundary = out[out.id_b - out.id_a == 500_000]
    assert len(boundary) == 10  # multi-probe recovers every boundary pair
    assert (boundary.cos_sim.between(0.90, 0.92)).all()  # and they're exact

    # exact-bucket mode still available and never emits false positives
    old = embedding_near_dup_pairs(corpus, threshold=0.9, probes=0).toPandas()
    assert (old.cos_sim >= 0.9).all()
    assert set(map(tuple, old[["id_a", "id_b"]].values)) <= set(
        map(tuple, out[["id_a", "id_b"]].values)
    )

    with pytest.raises(ValueError):
        embedding_near_dup_pairs(corpus, probes=13)


def test_clean_corpus_pipeline(spark, docs):
    """Composed cleaner: planted exact dups and near-dups are removed (min-id
    survives), low-quality and off-language docs filtered, survivors carry
    their scores."""
    exact_dup = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 600_000)
    near_dup = (
        docs.orderBy("doc_id").limit(2)
        .withColumn("doc_id", F.col("doc_id") + 700_000)
        .withColumn("text", F.concat("text", F.lit(" tail")))
    )
    corpus = docs.unionByName(exact_dup).unionByName(near_dup)
    langs = tuple(r.lang for r in docs.select("lang").distinct().collect())
    out = TX.clean_corpus(corpus, min_quality=0.0, langs=langs).toPandas()
    assert (out.doc_id < 600_000).all()  # every planted dup dropped
    assert out.q_score.between(0, 1).all()
    # strict quality threshold prunes further
    strict = TX.clean_corpus(corpus, min_quality=0.7, langs=langs)
    assert strict.count() < len(out)


def _low_entropy_corpus(spark, n_docs=1200, vocab=40, words=25, planted=5):
    """Tiny-vocabulary corpus (dense moderate-J background — the sf1-exposed
    candidate-explosion shape) with `planted` true near-dup pairs (J>=0.9)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(0)
    voc = [f"w{i:02d}" for i in range(vocab)]
    texts = [
        " ".join(voc[j] for j in rng.randint(0, vocab, words))
        for _ in range(n_docs)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    expected_pairs = set()
    for k in range(planted):  # near-identical copy: change the last word
        src = texts[k].rsplit(" ", 1)[0] + " zz_unique"
        rows.append((n_docs + k, src))
        expected_pairs.add((k, n_docs + k))
    return (
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])),
        expected_pairs,
    )


def _candidate_mass(banded):
    """Reference: exact self-join output size of a banded frame, sum over
    (band, bh) groups of C(n, 2), one probe per r."""
    row = banded.groupBy("band", "bh").agg(
        F.count("*").alias("n")
    ).agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("m")
    ).collect()[0]
    return int(row["m"] or 0)


def test_minhash_auto_banding_bounds_candidates(spark):
    """rows_per_band='auto' must escalate r under candidate pressure and
    keep the banded self-join within the budget, while still finding the
    planted high-J pairs (round-4 verdict #1: fixed r=2 exploded
    quadratically on low-entropy corpora)."""
    docs, expected = _low_entropy_corpus(spark)
    from battetl_spark.analytics.cache import cache_scope

    with cache_scope():
        sigs = TX.minhash_signatures(docs).cache()
        mass_r2 = _candidate_mass(TX._banded(sigs, "doc_id", 32, 2))
        budget = mass_r2 // 4  # force pressure regardless of corpus size
        r, banded = TX._auto_rows_per_band(
            sigs, "doc_id", 32, candidate_budget=budget
        )
        assert r > 2  # escalated
        assert _candidate_mass(banded) <= budget
        # stops when fewer than 2 bands would remain, even under pressure
        r_cap, _ = TX._auto_rows_per_band(
            sigs, "doc_id", 32, candidate_budget=0
        )
        assert 32 // (r_cap + 1) < 2 or r_cap == 16

    # end-to-end with the forced-escalation budget: planted pairs survive
    with cache_scope():
        import battetl_spark.analytics.textops as tx_mod

        orig = tx_mod._auto_rows_per_band

        def tight(sigs, id_col, num_hashes, start=2, candidate_budget=None):
            return orig(sigs, id_col, num_hashes, start, budget)

        tx_mod._auto_rows_per_band = tight
        try:
            pairs = TX.minhash_lsh_pairs(
                docs, jaccard_threshold=0.8, rows_per_band="auto"
            )
            got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        finally:
            tx_mod._auto_rows_per_band = orig
    assert expected <= got


def test_minhash_auto_banding_fewer_hashes_than_rows(spark, docs):
    """num_hashes=1 fits no band of the starting rows_per_band: auto banding
    returns the start with an empty banded frame instead of dividing by
    zero, and the pair search finds nothing."""
    sigs = TX.minhash_signatures(docs, num_hashes=1)
    r, banded = TX._auto_rows_per_band(sigs, "doc_id", 1)
    assert r == 2 and banded.count() == 0
    assert TX.minhash_lsh_pairs(docs, num_hashes=1).count() == 0


def test_minhash_auto_identical_below_budget(spark, docs):
    """On an ordinary corpus the default budget leaves r at 2 — auto mode
    must return EXACTLY the fixed-r=2 answer (the oracle-pinned path)."""
    auto = TX.minhash_lsh_pairs(docs, jaccard_threshold=0.8,
                                rows_per_band="auto")
    fixed = TX.minhash_lsh_pairs(docs, jaccard_threshold=0.8, rows_per_band=2)
    a = auto.orderBy("id_a", "id_b").toPandas()
    b = fixed.orderBy("id_a", "id_b").toPandas()
    assert a.equals(b)


def test_incremental_equals_batch(spark, docs, tmp_path):
    """MinHashIndex batch-by-batch ingest must union to the full-corpus
    minhash_lsh_pairs answer: every unordered pair found exactly once, by
    the batch ingesting its later member (round-4 verdict gap #2 —
    incremental near-dup against a persisted signature index)."""
    from battetl_spark.analytics import MinHashIndex

    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in TX.minhash_lsh_pairs(
            docs, jaccard_threshold=0.8, rows_per_band=2
        ).collect()
    }
    assert full  # corpus has planted near-dups

    idx = MinHashIndex.create(spark, str(tmp_path / "idx"))
    got = []
    for i in range(3):
        batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        got.extend(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in idx.add_batch(batch, jaccard_threshold=0.8).collect()
        )
    assert len(got) == len(set(got))  # no pair reported twice
    assert set(got) == full


def test_incremental_reingest_noop_and_reopen(spark, docs, tmp_path):
    """Only-new-rows semantics (reference Loader.py:144-234): re-ingesting
    an indexed batch adds nothing and reports no pairs; open() restores the
    banding parameters so a new session keeps joining consistently."""
    from battetl_spark.analytics import MinHashIndex

    path = str(tmp_path / "idx")
    idx = MinHashIndex.create(spark, path, num_hashes=32, shingle_k=3)
    b0 = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    idx.add_batch(b0)
    n0 = idx.table.scan().count()
    assert n0 == b0.count()

    again = idx.add_batch(b0)
    assert again.count() == 0
    assert idx.table.scan().count() == n0

    reopened = MinHashIndex.open(spark, path)
    assert (reopened.num_hashes, reopened.shingle_k, reopened.rows_per_band) \
        == (idx.num_hashes, idx.shingle_k, idx.rows_per_band)
    b1 = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    pairs = reopened.add_batch(b1, jaccard_threshold=0.8)
    assert pairs.count() > 0  # cross-batch pairs found through the reopen
    assert reopened.table.scan().count() == docs.count()


@pytest.mark.parametrize(
    "cls, params, bucket_key, key, stored",
    [
        ("MinHashIndex", {"num_hashes": 16, "shingle_k": 4, "rows_per_band": 4},
         "doc_id", "minhash_index",
         '{"num_hashes": 16, "shingle_k": 4, "rows_per_band": 4}'),
        ("EmbeddingIndex", {"bands": 6, "rows_per_band": 8, "probes": 1},
         "vec_id", "emb_index", '{"bands": 6, "rows_per_band": 8, "probes": 1}'),
        ("NgramIndex", {"shingle_k": 5}, "doc_id", "ngram_index",
         '{"shingle_k": 5}'),
        ("SpanIndex", {"span_k": 6}, "span_h", "span_index", '{"span_k": 6}'),
    ],
)
def test_index_config_round_trips_through_open(
    spark, tmp_path, cls, params, bucket_key, key, stored
):
    """Parameters frozen at create() come back from open(), and the stored
    table property keeps its key and JSON text, so indexes already on disk
    keep opening (metadata only — no Spark job)."""
    from battetl_spark.analytics import sig_index

    index_cls = getattr(sig_index, cls)
    path = str(tmp_path / "idx")
    index_cls.create(spark, path, num_buckets=4, **params)
    reopened = index_cls.open(spark, path)
    assert {name: getattr(reopened, name) for name in params} == params
    snap = reopened.table.snapshot()
    assert snap["properties"] == {key: stored}
    assert (snap["bucket_key"], snap["num_buckets"]) == (bucket_key, 4)


def test_incremental_band_join_prunes_signature_columns(spark, docs, tmp_path):
    """The index side of the band join must read only (doc_id, minhash) —
    shingle sets are fetched solely through the verify join. Pinned on the
    banding scan's ReadSchema (the 100-TB claim: the per-batch index scan
    shuffles small banding tuples, not shingle arrays)."""
    from battetl_spark.analytics import MinHashIndex
    from battetl_spark.analytics.sig_index import _banded

    idx = MinHashIndex.create(spark, str(tmp_path / "idx"))
    idx.add_batch(docs.limit(100))
    banded = _banded(
        idx.table.scan().select("doc_id", "minhash"), "doc_id", 32, 2
    )
    import re

    plan = banded._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert scans and all(
        not re.search(r"[<,]sh:", l.split("ReadSchema")[1]) for l in scans
    )


def test_simhash_incremental_equals_batch(spark, docs, tmp_path):
    """SimHashIndex batch-by-batch ingest equals the batch operator's
    full-corpus answer EXACTLY (pigeonhole blocking has guaranteed recall
    at hamming<=3 — no probabilistic caveat), and re-ingest is a no-op."""
    from battetl_spark.analytics import SimHashIndex

    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in TX.simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert full

    idx = SimHashIndex.create(spark, str(tmp_path / "idx"))
    got = []
    for i in range(3):
        batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        got.extend(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in idx.add_batch(batch, max_hamming=3).collect()
        )
    assert len(got) == len(set(got))
    assert set(got) == full

    again = idx.add_batch(docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0))
    assert again.count() == 0
    assert idx.table.scan().count() == docs.count()


def test_embedding_incremental_equals_batch(spark, emb, tmp_path):
    """EmbeddingIndex batch-by-batch ingest equals the batch operator
    EXACTLY: stored flip masks let an old smaller id probe toward a new
    vector's bucket, reproducing the batch self-join's smaller-id-probes
    orientation; re-ingest is a no-op."""
    from battetl_spark.analytics import EmbeddingIndex
    from battetl_spark.analytics.similarity import embedding_near_dup_pairs

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = base.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.999 + 0.0003).alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(planted)
    full = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dup_pairs(corpus, threshold=0.9).collect()
    }
    assert len(full) == 25  # planted pairs, non-vacuous

    idx = EmbeddingIndex.create(spark, str(tmp_path / "idx"))
    got = []
    for i in range(3):
        got.extend(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in idx.add_batch(
                corpus.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i),
                threshold=0.9,
            ).collect()
        )
    assert len(got) == len(set(got))  # no pair reported twice
    assert set(got) == full

    again = idx.add_batch(corpus.filter(F.pmod(F.col("vec_id"), F.lit(3)) == 0))
    assert again.count() == 0
    assert idx.table.scan().count() == corpus.count()


def test_embedding_index_rejects_too_small_dim_hint(spark, emb, tmp_path):
    """A dim hint below the true vector length must fail the batch loudly,
    not silently drop positions >= dim from the signatures."""
    from battetl_spark.analytics import EmbeddingIndex

    idx = EmbeddingIndex.create(spark, str(tmp_path / "idx"))
    vecs = emb.filter(F.col("vec_id") < 50)
    with pytest.raises(Exception, match="dim hint 8"):
        idx.add_batch(vecs, threshold=0.9, dim=8).collect()


def test_incremental_corpus_cleaner_equals_batch(spark, docs, tmp_path):
    """IncrementalCorpusCleaner over monotone doc_id batches must converge
    to the batch clean_corpus answer exactly (round-5 capstone: analytics
    state + the engine's own fenced merge path); re-ingest below the
    watermark and epoch replay are both no-ops, and open() resumes."""
    from battetl_spark.analytics import IncrementalCorpusCleaner

    full = (
        TX.clean_corpus(docs, min_quality=0.5, langs=("en", "de"))
        .orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    assert len(full) > 0

    path = str(tmp_path / "cleaner")
    cl = IncrementalCorpusCleaner.create(
        spark, path, min_quality=0.5, langs=("en", "de")
    )
    lo, hi = (int(x) for x in docs.approxQuantile("doc_id", [0.33, 0.66], 0.0))
    cl.add_batch(docs.filter(F.col("doc_id") <= lo), epoch_id=0)
    cl.add_batch(
        docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
        epoch_id=1,
    )
    # crash-replay: roll the watermark back (simulating a crash between the
    # fenced merge commit and the watermark update) and replay epoch 1 —
    # digests/signatures anti-join to no-ops, the merge fence holds
    wm = cl.watermark()
    cl._set_watermark(lo)
    state_before = cl.result().count()
    cl.add_batch(
        docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
        epoch_id=1,
    )
    assert cl.result().count() == state_before
    assert cl.watermark() == wm

    # resume through open() for the final batch
    cl2 = IncrementalCorpusCleaner.open(spark, path)
    assert (cl2.min_quality, cl2.langs) == (0.5, ("en", "de"))
    cl2.add_batch(docs.filter(F.col("doc_id") > hi), epoch_id=2)

    inc = cl2.result().orderBy("doc_id").toPandas().reset_index(drop=True)
    assert inc.equals(full)

    # full re-ingest: watermark filters everything, state unchanged
    r = cl2.add_batch(docs, epoch_id=9)
    assert r == {"seen": 0, "kept": 0}
    assert cl2.result().count() == len(full)


def test_ngram_incremental_equals_batch(spark, docs, tmp_path):
    """NgramIndex batch-by-batch ingest equals the batch prefix-filter
    operator EXACTLY (guaranteed recall under the stored hash order —
    no banding parameters, threshold is per-call); re-ingest is a no-op
    and a different threshold works against the same stored index."""
    from battetl_spark.analytics import NgramIndex

    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in TX.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    assert full

    idx = NgramIndex.create(spark, str(tmp_path / "idx"))
    got = []
    for i in range(3):
        got.extend(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in idx.add_batch(
                docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i),
                threshold=0.4,
            ).collect()
        )
    assert len(got) == len(set(got))
    assert set(got) == full

    assert idx.add_batch(docs.limit(50)).count() == 0  # re-ingest no-op
    assert idx.table.scan().count() == docs.count()

    # per-call threshold: a NEW batch can query at a different t against
    # the same stored arrays (prefixes derive at read time)
    tight = idx.add_batch(
        docs.orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + 700_000),
        threshold=0.99,
    )
    hits = {(r["id_a"], r["id_b"]) for r in tight.collect()}
    assert {(r, r + 700_000) for r in
            [x["doc_id"] for x in docs.orderBy("doc_id").limit(3).collect()]
            } <= hits  # exact copies found at j=1


def test_cleaner_midbatch_crash_replay(spark, docs, tmp_path):
    """A crash INSIDE add_batch must replay to the exact batch answer:
    simulate the worst crash point — digest index appended AND signatures
    indexed, but no pairs acted on, no merge, no watermark — then replay
    the batch normally. The fused only-new path would silently lose the
    batch's near-dup drops here; the idempotent split (ensure_indexed +
    pairs_involving on batch MEMBERSHIP) must not."""
    from battetl_spark.analytics import IncrementalCorpusCleaner
    from battetl_spark.analytics.textops import exact_dedup

    full = (
        TX.clean_corpus(docs, min_quality=0.5, langs=("en", "de"))
        .orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    cl = IncrementalCorpusCleaner.create(
        spark, str(tmp_path / "cleaner"), min_quality=0.5, langs=("en", "de")
    )
    mid = int(docs.approxQuantile("doc_id", [0.5], 0.0)[0])
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)
    cl.add_batch(b1, epoch_id=0)

    # --- simulate a crashed attempt of batch 2: run the state-mutating
    # prefix of add_batch by hand, then "crash" before pairs/merge/watermark
    from battetl_spark.analytics.textops import quality_features

    new = b2.select("doc_id", "text", "lang")
    q = quality_features(new.filter(F.col("lang").isin("en", "de")), "text")
    filtered = q.filter(F.col("q_score") >= 0.5).select("doc_id")
    base = new.join(filtered, "doc_id")
    batch_winners = (
        exact_dedup(base, "doc_id", "text")
        .select("digest", "keep_id")
        .join(cl.digests.scan().select("digest"), "digest", "left_anti")
    )
    cl.digests.append(batch_winners)
    winners_docs = base.join(
        cl.digests.scan().select(F.col("keep_id").alias("doc_id")), "doc_id"
    )
    cl.sig.ensure_indexed(winners_docs.select("doc_id", "text"))
    # crash here: digests + signatures committed, nothing else

    # --- replay the batch through the normal path
    cl.add_batch(b2, epoch_id=1)
    inc = cl.result().orderBy("doc_id").toPandas().reset_index(drop=True)
    assert inc.equals(full)


def test_cleaner_out_of_order_equals_batch(spark, docs, tmp_path):
    """ordered=False: batches are doc_id mod-3 residue classes ingested as
    (2, 0, 1), so every batch after the first is dominated by smaller late
    arrivals — earlier insert decisions must be displaced via CDC delete
    retractions through the fenced merge, and the final state must equal
    the batch clean_corpus answer exactly. Re-ingesting a batch whose
    members have since been demoted converges to the same state, and
    open() round-trips the mode."""
    from battetl_spark.analytics import IncrementalCorpusCleaner

    full = (
        TX.clean_corpus(docs, min_quality=0.5, langs=("en", "de"))
        .orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    assert len(full) > 0

    path = str(tmp_path / "cleaner_ooo")
    cl = IncrementalCorpusCleaner.create(
        spark, path, min_quality=0.5, langs=("en", "de"), ordered=False
    )
    batches = [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == r) for r in (2, 0, 1)
    ]
    cl.add_batch(batches[0], epoch_id=0)
    s0 = {r["doc_id"] for r in cl.result().collect()}
    cl.add_batch(batches[1], epoch_id=1)
    cl.add_batch(batches[2], epoch_id=2)

    inc = cl.result().orderBy("doc_id").toPandas().reset_index(drop=True)
    assert inc.equals(full)
    # at least one epoch-0 accept must have been RETRACTED by a later
    # smaller arrival — otherwise the out-of-order path wasn't exercised
    assert s0 - set(inc["doc_id"])

    # re-ingest of the first batch (now containing demoted members) at a
    # later epoch is a state no-op: demoted docs re-drop via their
    # identical-text twin pair, survivors re-insert value-idempotently
    cl.add_batch(batches[0], epoch_id=3)
    again = cl.result().orderBy("doc_id").toPandas().reset_index(drop=True)
    assert again.equals(full)

    cl2 = IncrementalCorpusCleaner.open(spark, path)
    assert cl2.ordered is False
    cl2.add_batch(batches[1], epoch_id=4)
    assert (
        cl2.result().orderBy("doc_id").toPandas()
        .reset_index(drop=True).equals(full)
    )


def test_decontaminate_matches_python_ground_truth(spark):
    rows = [
        (1, "the quick brown fox jumps over the dog"),
        (2, "a completely different sentence entirely here"),
        (3, "quick brown fox appears again in this text"),
        (4, "nothing shared with anything else whatsoever"),
    ]
    ev_rows = [(100, "the quick brown fox sat down")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(ev_rows, "doc_id long, text string")

    def shingles(t, k=3):
        w = t.split()
        return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}

    ev_sh = set().union(*(shingles(t) for _, t in ev_rows))
    expect = {
        i: len(shingles(t) & ev_sh)
        for i, t in rows if shingles(t) & ev_sh
    }
    got = {r["doc_id"]: r["n_shared"]
           for r in TX.decontaminate(docs, ev).collect()}
    assert got == expect and 1 in got and 3 in got and 4 not in got

    clean = sorted(r["doc_id"] for r in TX.decontaminated(docs, ev).collect())
    assert clean == sorted(set(i for i, _ in rows) - set(expect))


def test_decontaminate_broadcasts_eval_shingles(spark, docs):
    ev = docs.filter("doc_id % 97 = 0")
    tr = docs.filter("doc_id % 97 <> 0")
    plan = TX.decontaminate(tr, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "PythonUDF" not in plan


def test_redact_pii_cases(spark):
    cases = [
        ("mail me at john.doe+x@sub.example.co.uk now", "mail me at <EMAIL> now"),
        ("server 192.168.0.1 down", "server <IP> down"),
        ("ssn 123-45-6789 leaked", "ssn <SSN> leaked"),
        ("call +1 (555) 010-2233 today", "call <PHONE> today"),
        ("no pii here at all", "no pii here at all"),
    ]
    df = spark.createDataFrame(cases, "text string, expect string")
    out = df.select(TX.redact_pii("text").alias("got"), "expect").collect()
    for r in out:
        assert r["got"] == r["expect"], (r["got"], r["expect"])


def test_repetition_features_ground_truth(spark):
    rows = [
        (1, "a b a b a b a b"),          # 7 bigrams: 'a b'x4, 'b a'x3
        (2, "w x y z q r s t"),           # all bigrams unique
        (3, "c c c c c"),                 # 4 identical bigrams + trigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TX.repetition_features(df).collect()}
    assert got[1]["top_bigram_frac"] == round(4 / 7, 6)
    assert got[1]["dup_trigram_frac"] == round(1 - 2 / 6, 6)
    assert got[2]["top_bigram_frac"] == round(1 / 7, 6)
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 1.0
    assert got[3]["dup_trigram_frac"] == round(1 - 1 / 3, 6)


def test_repetition_features_plan_is_map_only(spark, docs):
    plan = (
        TX.repetition_features(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "PythonUDF" not in plan


def test_candidate_masses_match_per_r_probes(spark):
    """The fused multi-r probe (round 6) must report, for every probed r,
    exactly the mass the sequential ``_candidate_mass`` probe reports, and
    a row total of n_docs x bands(r) (the corpus-size derivation the
    budget uses)."""
    docs, _ = _low_entropy_corpus(spark, n_docs=300, planted=2)
    from battetl_spark.analytics.cache import cache_scope

    with cache_scope():
        sigs = TX.minhash_signatures(docs).cache()
        n_docs = sigs.count()
        masses, totals = TX._candidate_masses(sigs, "doc_id", 32, [2, 3])
        for r in (2, 3):
            assert masses[r] == _candidate_mass(
                TX._banded(sigs, "doc_id", 32, r)
            )
            assert totals[r] == n_docs * (32 // r)
