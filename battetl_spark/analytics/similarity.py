"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query set,
  dot products via zip_with/aggregate (JVM-side), per-query top-k via window.
  At 100 TB this is the correctness baseline and the re-rank stage.
- ``lsh_cosine_topk``: scale path — random-hyperplane LSH buckets, candidates
  = same bucket, exact cosine re-rank inside buckets only. The bucket join
  replaces the cross join; no cross product ever forms.

Hyperplane design (rewritten after round-1 review):
- The planes are ±1 sign matrices derived from md5 on the DRIVER
  (``plane_signs``) and embedded as literal arrays. The previous shape built
  each plane with ``transform(sequence(0,dim-1), xxhash64(...))`` inline —
  Catalyst re-expands such a construction once per plane (measured 100×
  blowup class; CLAUDE.md invariant). With literal sign arrays each plane's
  dot is ``aggregate(zip_with(vec, <const array>))`` — plan size and eval
  cost are linear in dim × planes and the whole bucketing is map-only
  (ZERO shuffle, vs. a posexplode+groupBy shape that would shuffle the
  corpus twice).
- Dots are computed over ``floor(x * 1e6)`` integer quantizations: every
  intermediate is an exact small integer, so the bucket bit (sign of the
  dot) is independent of floating-point summation ORDER — any engine
  (Spark fold, DuckDB list_dot_product) derives the identical bucket, which
  is what makes the LSH path oracle-verifiable end-to-end.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from battetl_spark.analytics.cache import track as _track
from battetl_spark.analytics.textops import _smaller_id_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _staged(df: DataFrame, id_col: str, vec_col: str, *keep: str,
            side: str = "v") -> DataFrame:
    """``(id, *keep, __v, __nv)`` — or ``(id, __qv, __nq)`` for the query
    ``side="q"`` — with the vector cast to array<double> and its norm staged
    beside it. Norms are per-VECTOR quantities: staged once per side instead
    of re-folding both norms inside every (query, vector) pair — 1 fold per
    pair instead of 3, arithmetic (and therefore every rounded output)
    bit-identical."""
    v, n = ("__qv", "__nq") if side == "q" else ("__v", "__nv")
    return df.select(
        F.col(id_col), *keep, F.col(vec_col).cast("array<double>").alias(v)
    ).withColumn(n, _norm(F.col(v)))


def _top_k(pairs: DataFrame, k: int, id_col: str,
           query_id_col: str) -> DataFrame:
    """The exact re-rank every top-k operator shares: over candidate
    ``pairs`` carrying both staged sides, drop self-matches, emit the
    rounded cosine and keep the ``k`` best per query ((cos_sim desc, id)
    order — the rank filter pushes down as a WindowGroupLimit)."""
    sim = pairs.filter(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        F.round(
            _dot(F.col("__v"), F.col("__qv")) / (F.col("__nv") * F.col("__nq")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query. ``queries`` must be broadcast-small
    (the usual ANN regime: few queries, huge corpus)."""
    q = _staged(queries, query_id_col, vec_col, side="q")
    v = _staged(vectors, id_col, vec_col)
    return _top_k(v.crossJoin(F.broadcast(q)), k, id_col, query_id_col)


QUANT = 1_000_000  # fixed-point scale for order-independent sign decisions


def plane_signs(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane sign matrix: component j of plane p is +1
    iff md5(f"{p}:{j}") has an even first byte. Pure Python md5 → identical
    planes in any engine or test harness."""
    return [
        [
            1 if hashlib.md5(f"{p}:{j}".encode()).digest()[0] % 2 == 0 else -1
            for j in range(dim)
        ]
        for p in range(num_planes)
    ]


def _plane_dots(vec_col, signs: list[list[int]]):
    """Array of quantized dot products against a LITERAL ±1 plane matrix,
    as ONE transform over the plane array (a single expression node per
    plane count, not one aggregate expression per plane — K separate
    aggregates over a shared quantized-vector expression get the shared
    child re-expanded K times by Catalyst, measured 5× on 144 planes)."""
    planes = F.array(*[F.array(*[F.lit(s) for s in row]) for row in signs])
    qv = F.transform(vec_col, lambda x: F.floor(x * QUANT))
    return F.transform(
        planes,
        lambda pl: F.aggregate(
            F.zip_with(qv, pl, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )


def lsh_bucket(vec_col, dim: int, num_planes: int = 12):
    """Random-hyperplane signature → integer bucket (2^num_planes buckets).
    Bit p (2^p) is set iff the quantized dot with plane p is >= 0.
    Map-only: literal plane arrays, no shuffle, plan linear in dim×planes.
    The dots array is consumed by ONE fold (referenced once — indexing it
    per bit would re-expand the whole dot computation per bit)."""
    if num_planes == 0:
        return F.lit(0)  # degenerate: everything in one bucket
    signs = plane_signs(num_planes, dim)
    powers = F.array(*[F.lit(1 << p) for p in range(num_planes)])
    return F.aggregate(
        F.zip_with(
            _plane_dots(vec_col, signs),
            powers,
            lambda d, pw: (d >= 0).cast("int") * pw,
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN (the other scale path besides LSH): a coarse quantizer
    partitions the corpus into cells, each query probes its ``nprobe``
    nearest cell centroids, and only those cells are exact-re-ranked.

    ``label_col`` is the pre-trained cell assignment (in production: k-means
    ids computed offline; here the table's provided label column). Centroids
    are per-dim means rounded to 6 — deterministic and engine-agnostic, so
    the whole approximate pipeline is oracle-verifiable. Recall depends on
    how well the labels cluster the data.

    Scale shape: the corpus NEVER shuffles — centroids are a tiny aggregate
    (cells × dim), the probe list broadcasts back, and the candidate join is
    a broadcast semi-join on the cell id; re-rank work is ~nprobe/cells of
    brute force."""
    v = _staged(vectors, id_col, vec_col, label_col)
    centroids = v.groupBy(label_col).agg(
        F.array(*[F.round(F.avg(F.col("__v")[i]), 6) for i in range(dim)]).alias("__c")
    ).withColumn("__nc", _norm(F.col("__c")))
    q = _staged(queries, query_id_col, vec_col, side="q")
    # probe selection: rank centroids per query by cosine over the staged
    # norms (rounded for cross-engine determinism, label tiebreak), keep
    # nprobe; the probes carry the query's __nq on to the re-rank
    cw = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col(label_col)
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            query_id_col,
            label_col,
            "__qv",
            "__nq",
            F.round(
                _dot(F.col("__qv"), F.col("__c")) / (F.col("__nq") * F.col("__nc")),
                9,
            ).alias("__csim"),
        )
        .withColumn("__cr", F.row_number().over(cw))
        .filter(F.col("__cr") <= nprobe)
    )
    return _top_k(
        v.join(F.broadcast(probes), label_col), k, id_col, query_id_col
    )


def _plane_signature(
    v: DataFrame, id_col: str, n_planes: int, dim: int | None = None
) -> DataFrame:
    """Hyperplane-dot signature frame (id, __d0.. __d{n-1}) from a frame
    with a quantizable ``__v`` array<double> column.

    One exploded row per (vector, dim); each plane's dot is a SUM aggregate
    of sign(p, pos) * q — codegen'd sums beat interpreted higher-order folds
    by ~10× (measured 2.4s → 0.35s per pass). The sum expressions are built
    as SQL STRINGS (one parser call each) instead of Column-object
    composition: each F.xx call is a py4j round-trip, and the ~1000 calls of
    the Column version cost ~1.7s of DRIVER build per query (measured) —
    the expr() build is ~50ms.

    Plane sign (p, pos) derives from xxhash64(p, pos) parity —
    deterministic in-engine, O(planes) plan nodes instead of O(planes×dim)
    literals. Round 6: the sign depends only on (p, pos), so it is
    precomputed into a dim-row broadcast frame (``__pos``, array<int> signs)
    joined to the exploded rows, instead of re-hashing inside every sum:
    the old shape evaluated n_planes xxhash64+pmod per (vector, dim) row —
    N·dim·planes hashes, ~185M at sf1 — the new one dim·planes. The sign
    expression is value- and type-identical (``xxhash64(<p:int literal>,
    <pos:int>)``), so the signatures (and therefore buckets, candidates and
    output) are bit-for-bit unchanged — pinned by the unchanged oracles.
    One tiny max-size aggregate sizes the frame (covers ragged corpora;
    empty input → empty frame) unless the caller passes ``dim`` — an
    EXACT upper bound on vector length known from the corpus schema;
    positions ≥ dim would silently drop from signatures, so only pass it
    when the dimension is a hard contract (the batch query entry points
    do; the incremental index keeps the probe)."""
    spark = v.sparkSession
    if dim is None:
        dim = int(v.agg(F.max(F.size("__v"))).first()[0] or 0)
    signs = spark.range(dim).selectExpr(
        "CAST(id AS INT) AS __pos",
        "array(" + ", ".join(
            f"CAST(1 - 2 * pmod(xxhash64({p}, CAST(id AS INT)), 2) AS INT)"
            for p in range(n_planes)
        ) + ") AS __sg",
    )
    return (
        v.select(
            id_col,
            F.posexplode(
                F.transform("__v", lambda x: F.floor(x * QUANT))
            ).alias("__pos", "__q"),
        )
        .join(F.broadcast(signs), "__pos")
        .groupBy(id_col)
        .agg(
            *[
                F.expr(f"sum(element_at(__sg, {p + 1}) * __q) AS __d{p}")
                for p in range(n_planes)
            ]
        )
    )


def _bucket_frame(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int, probes: int
) -> DataFrame:
    """Bucket ids __b{band} (and, when probing, each band's flip masks
    __f{band} — the ``probes`` smallest-|margin| planes, the signs most
    likely to disagree on a true near-dup) materialized ONCE per band from
    a signature frame. Structs referencing a shared complex expr would
    re-expand the 12-bit sum per probe (the Catalyst re-expansion lesson,
    CLAUDE.md); all SQL strings for the same driver-build reason as the
    signature sums (~2.1s → ~50ms measured)."""

    def band_bucket_sql(b: int) -> str:
        return " + ".join(
            f"CAST(__d{b * rows_per_band + r} >= 0 AS INT) * {1 << r}"
            for r in range(rows_per_band)
        ) + f" AS __b{b}"

    def flip_masks_sql(b: int) -> str:
        margins = ", ".join(
            f"named_struct('m', abs(__d{b * rows_per_band + r}), 'r', {r})"
            for r in range(rows_per_band)
        )
        # 2^r via pow: shiftleft() takes only a literal shift amount;
        # exact in doubles for r ≤ 30
        return (
            f"transform(slice(array_sort(array({margins})), 1, {probes}), "
            "s -> CAST(pow(2.0D, CAST(s.r AS DOUBLE)) AS INT))"
            f" AS __f{b}"
        )

    return sig.selectExpr(
        f"`{id_col}`",
        *[band_bucket_sql(b) for b in range(bands)],
        *([flip_masks_sql(b) for b in range(bands)] if probes else []),
    )


def _exploded_bucket_rows(
    buckets: DataFrame, id_col: str, bands: int, probes: int, probe: bool
) -> DataFrame:
    """(id, band, bkt) rows from a bucket frame — exact buckets only, or
    exact plus each band's ``probes`` 1-flip probe variants."""
    entries = []
    for b in range(bands):
        entries.append(f"named_struct('band', {b}, 'bkt', __b{b})")
        if probe and probes:
            entries.extend(
                f"named_struct('band', {b}, "
                f"'bkt', __b{b} ^ element_at(__f{b}, {j + 1}))"
                for j in range(probes)
            )
    return buckets.selectExpr(
        f"`{id_col}`", f"explode(array({', '.join(entries)})) AS bb"
    ).select(id_col, "bb.band", "bb.bkt")


def _cosine_verify(
    cand: DataFrame, v: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-cosine verify of candidate pairs against ``v`` = (id, ``__v``
    vector, ``__nv`` norm): filter on the raw cosine, emit it rounded.
    Norms are staged BELOW the joins, so each candidate pair folds only its
    dot product — the candidate set is ~1% of all pairs (millions at sf1)."""
    joined = cand.join(
        v.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"),
                 F.col("__nv").alias("__na")), "id_a"
    ).join(
        v.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"),
                 F.col("__nv").alias("__nb")), "id_b"
    )
    raw = _dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    return (
        joined.withColumn("__c", raw)
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round("__c", 6).alias("cos_sim"))
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    bands: int = 12,
    rows_per_band: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded random-hyperplane LSH
    candidates (query-directed multi-probe) + exact-cosine verify (the
    embedding member of the dedup family beside exact/minhash/simhash/
    ngram).

    Parameter math (12 bands × 12 planes, p = 1 - θ/π per plane):
    - random pairs (cos ≈ 0, p = 0.5) collide per band at 2^-12 ≈ 0.024%,
      ≈ 0.3% across all bands — candidates stay near LINEAR in corpus size
      (the previous 6-plane bands collided at 1.6% per band, which on an
      N²-pair corpus is a third of all pairs — measured 665k candidates on
      2k vectors; now ~6k);
    - true near-dups, exact-bucket only (``probes=0``): miss prob
      (1-p^12)^12 ≈ 3e-5 at cos 0.99, ≈ 2% at 0.95, ≈ 13% at exactly 0.90;
    - **query-directed multi-probe** (``probes=2``, the default): one side
      of the self-join additionally probes, per band, the buckets reached
      by flipping each of its ``probes`` SMALLEST-|margin| planes — the
      planes most likely to disagree on a true near-dup (classic
      multi-probe LSH). Monte-Carlo (20k trials, this exact scheme): miss
      ≈ 0.9% at cos exactly 0.90 (was ~13%), ≈ 0.2% at 0.92, ≈ 0.02% at
      0.95. Cost: the probe side emits (1+probes)× band rows, so random
      -pair collisions rise ~3× (≈ 0.9% across all bands) — far below the
      13× of undirected 1-bit probing (``probes=12`` gives exactly that:
      every 1-flip neighbor, miss ≈ 7e-4 at 0.90). Still candidate
      -bucketed, never all-pairs; every emitted pair remains EXACT
      (verified cosine ≥ threshold, filter on raw, emit rounded).

    Scale shape: signatures are built by posexplode + partial-sum
    aggregation — whole-stage-codegen sums with map-side combine, so only
    (id, plane-dot) signatures cross the exchange, never the vector payload
    (same discipline as the simhash bit-vote build, textops.py). Plane sign
    p,j is derived IN-ENGINE from xxhash64(p, j) parity rather than literal
    ±1 matrices: the plan stays O(planes) nodes instead of O(planes×dim)
    literals, whose repeated canonicalization cost ~10s of DRIVER planning
    per query build (measured; execution was never the bottleneck). The
    verify stage is the exact cosine, so the oracle (exhaustive all-pairs)
    never needs to reproduce the planes — and signatures adapt to the
    actual vector length, so no ``dim`` parameter is needed (unlike the
    literal-plane ANN entry points)."""
    if not 0 <= probes <= rows_per_band:
        raise ValueError(
            f"probes must be in [0, rows_per_band={rows_per_band}] "
            "(0 = exact buckets, rows_per_band = every 1-flip neighbor)"
        )
    v = _staged(vectors, id_col, vec_col)
    # signature store: the banded self-join references this frame on both
    # sides — persist (scope-tracked) so the corpus is projected once
    # (N×planes longs, spills if ever large)
    sig = _track(_plane_signature(v, id_col, bands * rows_per_band, dim=dim))
    buckets = _bucket_frame(sig, id_col, bands, rows_per_band, probes)

    # probing ONE side suffices: bucket XOR is symmetric, and either
    # orientation of (id_a < id_b) puts the probing side on every pair
    cand = _smaller_id_pairs(
        _exploded_bucket_rows(buckets, id_col, bands, probes, probe=True),
        _exploded_bucket_rows(buckets, id_col, bands, probes, probe=False),
        ["band", "bkt"],
        id_col,
    ).dropDuplicates(["id_a", "id_b"])
    return _cosine_verify(cand, v, id_col, threshold)


def _nearest_cell_expr(vec_col, centroids: list[list[float]]):
    """Per-row argmin over LITERAL centroid arrays: build one (dist, cell)
    struct per centroid and take array_min — lexicographic struct ordering
    gives min distance with smallest-cell tiebreak. Entirely map-side; each
    centroid's distance is evaluated exactly once (``vec_col`` must be a
    plain column reference so Catalyst doesn't re-expand a complex child),
    plan size linear in n_cells × dim (same literal-array discipline as
    ``lsh_bucket``)."""
    entries = []
    for i, cent in enumerate(centroids):
        c = F.array(*[F.lit(float(x)) for x in cent])
        d = F.aggregate(
            F.zip_with(vec_col, c, lambda x, cc: (x - cc) * (x - cc)),
            F.lit(0.0),
            lambda acc, dd: acc + dd,
        )
        entries.append(F.struct(d.alias("d"), F.lit(i).alias("cell")))
    return F.array_min(F.array(*entries))["cell"]


def train_kmeans_cells(
    vectors: DataFrame,
    dim: int,
    n_cells: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer (the
    'pre-trained k-means ids' a production IVF index needs).

    Deterministic: seeds are the vectors with the n_cells smallest
    xxhash64(id) values; a fixed iteration count; centroid components are
    per-dim means rounded to 6. Each iteration is ONE Spark job and the
    assignment is MAP-ONLY: the per-row argmin folds over literal centroid
    arrays inside a single expression (no crossJoin ×n_cells expansion, no
    payload shuffle by the high-cardinality id). The only shuffle per
    iteration is the tiny-key, map-side-combinable groupBy("cell") for the
    new centroids, and only n_cells×dim floats ever reach the driver."""
    v = _staged(vectors, id_col, vec_col)
    seeds = (
        v.withColumn("__h", F.xxhash64(id_col))
        .orderBy("__h")
        .limit(n_cells)
        .select("__v")
        .collect()
    )
    centroids = [list(r["__v"]) for r in seeds]
    # tiny corpora: fewer distinct seed vectors than requested cells
    n_cells = min(n_cells, len(centroids))
    if n_cells == 0:
        raise ValueError("train_kmeans_cells: empty corpus")
    centroids = centroids[:n_cells]
    for _ in range(iters):
        assigned = v.select(
            F.col("__v"), _nearest_cell_expr(F.col("__v"), centroids).alias("cell")
        )
        rows = (
            assigned.groupBy("cell")
            .agg(
                F.array(
                    *[F.round(F.avg(F.col("__v")[i]), 6) for i in range(dim)]
                ).alias("__c")
            )
            .collect()
        )
        new = {r["cell"]: list(r["__c"]) for r in rows}
        centroids = [new.get(i, centroids[i]) for i in range(n_cells)]
    return centroids


def assign_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) assignment against trained centroids — map-only per-row
    argmin over literal centroid arrays; ZERO shuffle (plan-pinned by
    test_kmeans_assignment_map_only)."""
    return _staged(vectors, id_col, vec_col).select(
        F.col(id_col), _nearest_cell_expr(F.col("__v"), centroids).alias("cell")
    )


def kmeans_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN with a self-trained k-means coarse quantizer: train cells
    (3 Lloyd iterations), attach assignments as the label column, and run
    the probed exact re-rank. (Iterative trainer → pytest-verified, no SQL
    oracle.)"""
    centroids = train_kmeans_cells(vectors, dim, n_cells, 3, id_col, vec_col)
    cells = assign_cells(vectors, centroids, id_col, vec_col)
    labeled = vectors.join(cells, id_col).withColumnRenamed("cell", "__cell")
    return ivf_cosine_topk(
        labeled, queries, dim, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        label_col="__cell",
    )


def lsh_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, exact
    cosine re-rank inside the bucket. Recall grows with fewer planes /
    multi-probe; bucket join replaces the cross join at scale."""
    v = _staged(vectors, id_col, vec_col).withColumn(
        "bucket", lsh_bucket(F.col("__v"), dim, num_planes)
    )
    q = _staged(queries, query_id_col, vec_col, side="q").withColumn(
        "bucket", lsh_bucket(F.col("__qv"), dim, num_planes)
    )
    return _top_k(v.join(F.broadcast(q), "bucket"), k, id_col, query_id_col)
