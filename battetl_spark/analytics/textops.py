"""Large-scale training-data text operators over a `documents` table.

Beyond-reference operators a 100 TB training-data pipeline needs (per the
build brief): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
language-ID, quality scoring, token counting, document fingerprinting.

Cache lifecycle: the near-dup operators persist their derived signature /
shingle frames (the candidate self-join and exact-verify joins reference
them 2-5×; recomputing the corpus pipeline per reference dominated the
bench). The cache is MEMORY_AND_DISK and evicted LRU; the returned
DataFrames are lazy so there is no in-function unpersist point — a
long-lived session sweeping MANY corpora should wrap each corpus in
``battetl_spark.analytics.cache.cache_scope()`` (scoped unpersist) or
`spark.catalog.clearCache()` between corpora (bench.py does the latter
between query reps).

Scale design notes (these run over O(10^9) docs):
- exact dedup: one hash-groupBy shuffle on a 16-byte digest, partial agg
  map-side; never shuffles document text except the kept winner's id.
- shingles are 64-bit HASHES, never strings: a word-hash array is built once
  per doc, then each k-shingle is xxhash64 over k array gets — O(len·k) work
  per doc (the previous concat_ws(slice(words)) shape was O(len²) string
  bytes and dominated the benchmark).
- MinHash+LSH: shingle-hash → K permuted min-hashes in ONE explode+groupBy
  (map-side combinable); candidate pairs come from a self-join on shared
  band hashes, deduplicated per pair — the join key is tiny and uniformly
  distributed, so the shuffle is balanced; only candidate pairs (a
  vanishing fraction of the cross product) are exact-verified.
- SimHash: 64-bit signature computed entirely in Catalyst — explode tokens,
  md5 → 16 hex-digit values, 64 conditional bit-vote sums in one groupBy
  (map-side combinable; no Python anywhere). Near-dup candidates use the
  Manku-et-al pigeonhole blocks: hamming<=3 over 64 bits ⇒ at least one of
  4 16-bit blocks is identical, so the blocked self-join has GUARANTEED
  recall and the verify (bit_count of xor) is a JVM bit expression.
- n-gram Jaccard: AllPairs/PPJoin-style prefix filtering — a pair with
  J >= t must share a shingle within each side's (1-t)-prefix under a global
  hash order, so candidates have guaranteed recall without LSH randomness.
- every signature derives from md5/xxhash64 of content — deterministic,
  engine-agnostic where the oracle needs it (simhash uses md5 hex digits so
  DuckDB reproduces signatures bit-for-bit).

Reference parity: the reference has no text operators (it is a battery-test
ETL, battetl/transform/Transformer.py); this module is the training-data
extension required by the build brief.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from battetl_spark.analytics.cache import track as _track

# ----------------------------------------------------------------- cleaning

def normalized_text(col="text"):
    """Lowercased, alnum+space only, whitespace-collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalized_tokens(col="text"):
    """``split(normalized_text(col), " ")`` in ONE regex pass: the maximal
    [a-z0-9] runs of lower(text) are exactly the normalized tokens, so a
    single split on ``[^a-z0-9]+`` (dropping boundary empties; all-empty →
    the normalized-empty-string token ``['']``) produces the identical
    token array at ~60-75% of the two-regexp_replace cost (measured sf1,
    token-exact on the corpus + edge cases incl. NULL). String consumers
    (fingerprint md5) keep ``normalized_text`` — its BYTES are the
    contract there."""
    c = F.col(col) if isinstance(col, str) else col
    f = F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")
    return F.when(F.size(f) == 0, F.array(F.lit(""))).otherwise(f)


# -------------------------------------------------------------- exact dedup

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id document per exact (md5) text digest."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------ token counts

def token_count(col="text"):
    """Whitespace tokenization count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def bpe_ish_token_count(col="text"):
    """BPE-flavored proxy: words split into <=4-char pieces — counts subword
    units deterministically without a tokenizer dependency."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(c), r"\s+")
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int"),
    )


# ------------------------------------------------------------ quality score

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length features
    plus a composite quality score in [0,1]."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    stop_pattern = r"\b(" + "|".join(STOPWORDS) + r")\b"
    n_stop = F.regexp_count(F.lower(c), F.lit(stop_pattern))
    mean_word_len = (
        F.length(F.regexp_replace(c, r"\s+", "")) / F.greatest(n_tokens, F.lit(1))
    )
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    score = (
        F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * 0.2
        + F.when((mean_word_len >= 3) & (mean_word_len <= 8), 0.1).otherwise(0.0)
    )
    return docs.select(
        "*",
        n_tokens.alias("q_n_tokens"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(stop_ratio, 6).alias("q_stop_ratio"),
        F.round(mean_word_len, 6).alias("q_mean_word_len"),
        F.round(score, 6).alias("q_score"),
    )


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, entirely IN-ROW (zero
    shuffle — the heavy 100-TB filter pass stays map-only):

    - ``top_bigram_frac``: occurrences of the most frequent word bigram /
      total bigram occurrences. Computed as the longest run in the SORTED
      bigram-hash array via one ``aggregate`` fold — no explode, no
      groupBy; a per-doc mode without ever shuffling a gram row.
    - ``dup_trigram_frac``: fraction of trigram occurrences that repeat an
      earlier one (1 − distinct/total).

    Repetition-heavy machine-generated text scores high on both; a corpus
    filter composes as ``.filter(top_bigram_frac < τ)``.
    """
    # stage the word-hash array ONCE: the bigram AND trigram views both
    # derive from it (5 slice references + 2 sizes — inline, the chain
    # would re-evaluate 7× per row)
    staged = docs.withColumn("__wh", word_hash_array(text_col))
    bg = F.array_sort(shingle_hash_seq_from(F.col("__wh"), 2))
    zero = F.struct(
        F.lit(None).cast("long").alias("prev"),
        F.lit(0).alias("cur"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(acc["prev"].isNotNull() & (acc["prev"] == x), acc["cur"] + 1)
            .otherwise(F.lit(1))
        )
        return F.struct(
            x.alias("prev"), run.alias("cur"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_run = F.aggregate(bg, zero, step, lambda a: a["best"])
    tg = shingle_hash_seq_from(F.col("__wh"), 3)
    return staged.withColumns({
        "top_bigram_frac": F.round(
            top_run.cast("double") / F.size(bg), 6
        ),
        "dup_trigram_frac": F.round(
            F.lit(1.0) - F.size(F.array_distinct(tg)).cast("double") / F.size(tg), 6
        ),
    }).drop("__wh")


# -------------------------------------------------------------- language id

LANG_MARKERS = {
    "en": ["the", "and", "is", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
}


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word n-gram heuristic: score = marker hits per language,
    argmax with deterministic alphabetical tiebreak, 'und' (undetermined)
    when no marker hits."""
    lc = F.lower(F.col(text_col))
    scores = [
        F.regexp_count(lc, F.lit(r"\b(" + "|".join(m) + r")\b")).alias(f"s_{lang}")
        for lang, m in LANG_MARKERS.items()
    ]
    scored = docs.select("*", *scores)
    langs = sorted(LANG_MARKERS)  # alphabetical tiebreak
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier alphabetical wins ties
        pred = F.when(F.col(f"s_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.withColumn("pred_lang", pred)


# ------------------------------------------------------------- fingerprints

def fingerprint(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Content fingerprint: md5 of normalized text + a rolling min-hash over
    5-gram character shingles (robust to whitespace/punct edits)."""
    norm = normalized_text(text_col)
    shingles = _char_shingles(norm, 5)
    rolling_min = F.array_min(F.transform(shingles, lambda s: F.xxhash64(s)))
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("content_md5"),
        rolling_min.alias("rolling_min_hash"),
    )


def _char_shingles(col, k: int):
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(c, i, k))


def word_hash_array(col):
    """Per-word xxhash64 array of normalized text. MATERIALIZE this as a
    COLUMN (one select stage) before deriving shingle views from it: the
    higher-order shingle expressions are CodegenFallback (no whole-stage
    CSE), so an inline chain re-evaluates the normalize+split+hash subtree
    once per slice argument — k+1 times per row. Staging it was the round-6
    fix for the sf1 minhash shingle build (13-16 s of the 16 s operator)."""
    return F.transform(normalized_tokens(col), lambda w: F.xxhash64(w))


def shingle_hash_seq_from(wh_col, k: int):
    """Rolling k-word shingle hash SEQUENCE (occurrence semantics, document
    order) from a word-hash array — pass a MATERIALIZED column reference,
    see ``word_hash_array``. k shifted slices zipped per ROW — never index
    into the array inside a lambda: a lambda-body reference to an outer
    array expression is re-evaluated per element (the whole chain, O(len²)
    per doc — measured 5×+ of the round-1 bench). arrays_zip pads short
    slices with NULL and xxhash64 skips NULL args, so short docs yield one
    partial shingle (mirroring concat_ws's null-skip in the SQL oracle)."""
    wh = F.col(wh_col) if isinstance(wh_col, str) else wh_col
    n = F.greatest(F.size(wh) - (k - 1), F.lit(1))
    shifted = [F.slice(wh, j + 1, n) for j in range(k)]
    return F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.xxhash64(*[s[str(j)] for j in range(k)]),
    )


def shingle_sets(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, sh: array<long>)`` distinct-shingle frame with the word-hash
    array staged as a column (two-Project shape; CollapseProject keeps the
    stage because the array is referenced k+1 times by non-cheap slices),
    so the word-hash chain is evaluated once instead of k+1 times.

    Shingle hashes need no string concatenation: each is xxhash64 over k
    word hashes, so two shingles collide iff their word tuples match
    (modulo 64-bit collisions), and set operations on the hash arrays are
    isomorphic to set operations on shingle strings — which is what makes
    exact-Jaccard verification oracle-expressible."""
    staged = docs.select(
        F.col(id_col), word_hash_array(text_col).alias("__wh")
    )
    return staged.select(
        F.col(id_col),
        F.array_distinct(shingle_hash_seq_from("__wh", k)).alias("sh"),
    )


def exploded_shingles(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text",
    out_col: str = "g",
) -> DataFrame:
    """``(id, out_col)`` — one row per DISTINCT shingle hash per document,
    for single-pass consumers that never need the array. The word-hash
    array is staged (chain evaluated once) but the generator child stays a
    COMPLEX expression over that attribute: exploding a *plain* staged
    column triggers InferFiltersFromGenerate, whose ``size(col) > 0``
    filter is then substitution-pushed through the staging Projects and
    re-inlines the whole chain (twice) into the scan Filter — measured
    2.3× slower than the round-5 inline shape on decontaminate; this
    shape dodges the rule (it skips non-attribute children) while keeping
    the one-evaluation staging."""
    staged = docs.select(
        F.col(id_col), word_hash_array(text_col).alias("__wh")
    )
    return staged.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingle_hash_seq_from("__wh", k))
        ).alias(out_col),
    )


# ----------------------------------------------------------- minhash + LSH

def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """K min-hash values per doc over word-shingle hashes; h_i is the min of
    xxhash64(shingle_hash, i).

    Shape matters: explode shingle hashes ONCE, then one groupBy with K min
    aggregates (map-side combinable). K array-expressions over an inline
    shingle expr would re-expand the shingle construction K times —
    catastrophic expression blowup (measured 100×)."""
    sh = exploded_shingles(docs, shingle_k, id_col, text_col, "__s")
    return _signatures_from_exploded(sh, id_col, num_hashes)


def _signatures_from_exploded(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """K permuted min-hashes from an (id, __s) exploded-shingle frame."""
    # SQL-string aggregates: one parser call each instead of ~4 py4j calls
    # each (driver-build cost, see simhash_signatures)
    aggs = [
        F.expr(f"min(xxhash64(__s, {i})) AS __h{i}") for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.selectExpr(
        f"`{id_col}`",
        f"array({', '.join(f'__h{i}' for i in range(num_hashes))}) AS minhash",
    )


def minhash_signatures_from_shingles(
    with_sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """Signatures from an (id, sh: array<long>) shingle frame — lets a
    caller that also needs the shingle sets (exact verify) persist ONE
    shingle build and derive both from it instead of shingling the corpus
    twice (round-5: one full corpus pass saved in minhash_lsh_pairs).
    Callers pass a PERSISTED frame (every in-repo call site does): explode
    of a plain unpersisted staged column would re-inline the shingle chain
    into scan filters via InferFiltersFromGenerate (see
    ``exploded_shingles``)."""
    sh = with_sh.select(F.col(id_col), F.explode("sh").alias("__s"))
    return _signatures_from_exploded(sh, id_col, num_hashes)


def _banded(
    sigs: DataFrame, id_col: str, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """Explode signatures into (id, band, band-hash) rows — band hash =
    xxhash64 over rows_per_band consecutive minhashes; bands that don't fit
    (num_hashes % rows_per_band) are dropped, so r need not divide K; with
    fewer hashes than rows_per_band no band fits and the frame is empty."""
    bands = num_hashes // rows_per_band
    if bands == 0:
        return sigs.select(
            id_col, F.lit(0).alias("band"), F.lit(0).cast("long").alias("bh")
        ).limit(0)
    entries = ", ".join(
        f"named_struct('band', {b}, 'bh', xxhash64("
        + ", ".join(
            f"minhash[{b * rows_per_band + i}]" for i in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    return sigs.selectExpr(
        f"`{id_col}`", f"explode(array({entries})) AS bb"
    ).select(id_col, "bb.band", "bb.bh")


def _candidate_masses(
    sigs: DataFrame, id_col: str, num_hashes: int, rs: list[int]
) -> tuple[dict[int, int], dict[int, int]]:
    """Candidate mass — the exact self-join output size of the banded
    frame, sum over (band, bh) groups of C(n, 2) — for SEVERAL r values in
    ONE job (round-6: each driver-synchronous probe job costs ~0.5 s at
    sf1, as much as the candidate join it sizes — probing r and r+1
    together halves the escalation path's job count). Also returns each
    r's TOTAL banded row count (= n_docs × bands(r), exactly — every
    signature row explodes into precisely ``bands`` entries), so the caller
    derives the corpus size without a separate count job. One
    map-side-combinable aggregate, orders of magnitude cheaper than the
    join it predicts.

    All r values explode from ONE scan of ``sigs`` (a single Generate of
    tagged (r, band, bh) structs): a union of per-r banded frames would
    scan the persisted-but-not-yet-materialized signature frame once per
    leg INSIDE the same job, re-running the signature pipeline per leg
    (measured +0.15 s at sf0.1 where the probe job is also the cache
    materializer)."""
    entries = ", ".join(
        f"named_struct('r', {r}, 'band', {b}, 'bh', xxhash64("
        + ", ".join(f"minhash[{b * r + i}]" for i in range(r))
        + "))"
        for r in rs
        for b in range(num_hashes // r)
    )
    u = sigs.selectExpr(f"explode(array({entries})) AS bb").select(
        F.col("bb.r").alias("__r"),
        F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
    )
    rows = (
        u.groupBy("__r", "band", "bh").agg(F.count("*").alias("n"))
        .groupBy("__r")
        .agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("m"),
            F.sum("n").alias("t"),
        )
        .collect()
    )
    masses = {r["__r"]: int(r["m"] or 0) for r in rows}
    totals = {r["__r"]: int(r["t"] or 0) for r in rows}
    return (
        {r: masses.get(r, 0) for r in rs},
        {r: totals.get(r, 0) for r in rs},
    )


def _auto_rows_per_band(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    start: int = 2,
    candidate_budget: int | None = None,
) -> tuple[int, DataFrame]:
    """Pick the smallest rows_per_band whose banded self-join stays within
    the candidate budget (round-4 verdict #1: fixed r=2 explodes
    ~quadratically on low-entropy corpora — 5.5 M candidate rows at 50 k
    synthetic docs, measured).

    A band matches a random pair with prob J^r, so each +1 on r multiplies
    the moderate-J background down by another factor of J while true
    near-dups (J ≥ ~0.6) survive: per-pair miss prob is (1-J^r)^(K/r)
    (J=0.8: 8e-8 at r=2/16 bands, 7.6e-4 at r=3/10 bands). The budget
    default — max(100k, 16·docs) candidate rows — keeps the join linear-ish
    in corpus size; below it, r stays at ``start`` and results are
    IDENTICAL to the non-adaptive path. Escalation stops when fewer than 2
    bands would remain. Cost per probe: one count aggregate over the
    exploded signatures (the join it sizes is orders of magnitude bigger).
    Guaranteed-recall alternative when escalation is unacceptable:
    ``ngram_jaccard_pairs`` (prefix filtering).

    Probe shape (round-6): r and r+1 are measured in ONE aggregate job
    (``_candidate_masses``), and the corpus size falls out of the same
    aggregate — 1 driver-synchronous job instead of 3 (count + two probes)
    on the escalation path, 1 instead of 2 on the common r=start path. The
    chosen r — smallest within budget, same fewer-than-2-bands stop — is
    decision-identical to the sequential loop, so results are unchanged.
    With fewer hashes than ``start`` rows no band fits: ``start`` comes back
    with the empty banded frame, unprobed."""
    r = start
    if num_hashes // r == 0:
        return r, _banded(sigs, id_col, num_hashes, r)
    while True:
        rs = [r]
        if num_hashes // (r + 1) >= 2:
            rs.append(r + 1)
        masses, totals = _candidate_masses(sigs, id_col, num_hashes, rs)
        if candidate_budget is None:
            n_docs = totals[r] // (num_hashes // r)
            candidate_budget = max(100_000, 16 * n_docs)
        for rr in rs:
            if masses[rr] <= candidate_budget or num_hashes // (rr + 1) < 2:
                return rr, _banded(sigs, id_col, num_hashes, rr)
        r = rs[-1] + 1


def _smaller_id_pairs(
    a: DataFrame, b: DataFrame, on: list[str], id_col: str, *extra
) -> DataFrame:
    """Candidate ``(id_a, id_b, *extra)`` pairs of ``a`` and ``b`` rows that
    share every ``on`` key, oriented from the smaller id (a.id < b.id);
    ``extra`` may reference the ``a.``/``b.`` sides. Not deduplicated: a
    pair can share several keys."""
    cond = functools.reduce(
        operator.and_,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in on]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    return a.alias("a").join(b.alias("b"), cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *extra,
    )


def _banded_candidates(
    sigs: DataFrame, id_col: str, num_hashes: int, rows_per_band
) -> DataFrame:
    """Candidate (id_a, id_b) pairs sharing at least one LSH band.

    rows_per_band is the collision-control knob: a band matches a random
    pair with prob J^r, so r=2 squares away the moderate-J background that
    a raw single-hash join drowns in (measured 5× blowup on the bench corpus
    where common shingles give random pairs J≈0.05); ``"auto"`` escalates r
    under candidate pressure (see ``_auto_rows_per_band``). One explode +
    one self-join on (band, band_hash) + one pair dedupe — balanced keys,
    no cross product."""
    if rows_per_band == "auto":
        _, banded = _auto_rows_per_band(sigs, id_col, num_hashes)
    else:
        banded = _banded(sigs, id_col, num_hashes, int(rows_per_band))
    return _smaller_id_pairs(banded, banded, ["band", "bh"], id_col).dropDuplicates(
        ["id_a", "id_b"]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.6,
    rows_per_band="auto",
    verify: str = "exact",
) -> DataFrame:
    """Near-dup pairs via banded minhash-LSH candidate generation.

    ``rows_per_band="auto"`` (default) sizes the banding to the corpus: it
    starts at r=2 and escalates only when the estimated candidate mass
    (one cheap aggregate over band-group sizes) exceeds a linear-in-docs
    budget — so on ordinary corpora results are identical to r=2, while a
    low-entropy corpus (dense moderate-J background) trades documented
    boundary recall for a bounded, near-linear candidate join instead of a
    quadratic explosion. Pass an int to pin r explicitly.

    verify='exact' (default): candidates are re-checked with the TRUE Jaccard
    over shingle-hash sets (array_intersect/array_union — pure JVM), so the
    emitted pairs equal the exhaustive all-pairs answer whenever the LSH
    blocking recalls them (miss prob (1-j^r)^(K/r) per pair; at j=0.8,
    r=2, K=32 that is 8e-8). Output column: ``jaccard``.

    verify='estimate': classic signature-only estimate (fraction of matching
    minhashes) — cheaper at very large scale, but approximate. Output
    column: ``est_jaccard``.
    """
    # ONE shingle build for the whole operator: the signature pipeline and
    # the exact-verify join both derive from this persisted frame (shingling
    # is the linear floor of the operator — don't pay it twice)
    with_sh = _track(shingle_sets(docs, shingle_k, id_col, text_col))
    # signature store: banding references sigs on both join sides; persist
    # or every side re-explodes + re-minhashes the shingles (K aggregates
    # over the full token stream). N×(id, K longs).
    sigs = _track(minhash_signatures_from_shingles(with_sh, id_col, num_hashes))
    cand = _banded_candidates(sigs, id_col, num_hashes, rows_per_band)
    if verify == "estimate":
        sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
        sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
        est = F.size(
            F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda eq: eq)
        ) / F.lit(float(num_hashes))
        return (
            cand.join(sig_a, "id_a")
            .join(sig_b, "id_b")
            .withColumn("est_jaccard", F.round(est, 6))
            .filter(F.col("est_jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", "est_jaccard")
        )
    return _exact_jaccard_over(cand, with_sh, id_col, jaccard_threshold)


def _exact_jaccard_over(
    cand: DataFrame, with_sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard verify of candidate pairs against shingle-hash sets."""
    joined = cand.join(
        with_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        with_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    # filter on the RAW ratio (the oracle's WHERE is unrounded); emit rounded
    return (
        joined.withColumn("__j", inter / union)
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


def _prefix_rows(with_sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id, tok) rows of each doc's (1-t)-prefix of its ordered shingle
    array ``sh``: a pair with J >= t must share a token within BOTH
    prefixes (AllPairs), so a prefix join has guaranteed recall."""
    plen = (
        F.size("sh") - F.ceil(F.lit(float(threshold)) * F.size("sh")).cast("int") + 1
    )
    return with_sh.select(
        F.col(id_col), F.explode(F.slice("sh", 1, plen)).alias("tok")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    order_by: str = "frequency",
) -> DataFrame:
    """Exact n-gram Jaccard pairs with GUARANTEED recall via prefix filtering
    (AllPairs/PPJoin): order each doc's shingle hashes under a single global
    total order; a pair with J >= t must share an element within each side's
    first |S| - ceil(t·|S|) + 1 elements (else overlap < t·|S| <=
    t·|union|). Candidates therefore come from a self-join on prefix
    elements only — no LSH randomness, no cross product — and are
    exact-verified.

    ``order_by='frequency'`` (default) uses ascending document frequency
    (ties by hash) — the AllPairs ordering: prefixes then hold each doc's
    RAREST shingles, so the self-join groups are the smallest possible. On
    Zipfian real-world corpora this is the difference between quadratic and
    near-linear candidates; correctness is identical under ANY global order
    (``order_by='hash'`` skips the frequency pass — two fewer shuffles —
    for corpora with near-uniform token frequencies)."""
    if order_by == "frequency":
        tok = exploded_shingles(docs, shingle_k, id_col, text_col, "__s")
        dfreq = tok.groupBy("__s").agg(F.count("*").alias("__df"))
        with_sh = (
            tok.join(dfreq, "__s")
            .groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__df"), F.col("__s")))
                ).alias("__osh")
            )
            .select(
                F.col(id_col),
                F.transform("__osh", lambda x: x["__s"]).alias("sh"),
            )
        )
    else:
        with_sh = shingle_sets(docs, shingle_k, id_col, text_col).select(
            F.col(id_col), F.array_sort("sh").alias("sh")
        )
    # with_sh is referenced FOUR times (both prefix self-join sides + both
    # verify sides); for the frequency ordering it is itself a multi-shuffle
    # pipeline — persist so the corpus is shingled/ordered exactly once
    with_sh = _track(with_sh)
    prefix = _prefix_rows(with_sh, id_col, threshold)
    cand = _smaller_id_pairs(prefix, prefix, ["tok"], id_col).dropDuplicates(
        ["id_a", "id_b"]
    )
    return _exact_jaccard_over(cand, with_sh, id_col, threshold)


# ------------------------------------------------------------ PII redaction

# (pattern, replacement) in application order: specific → general, so the
# greedy phone pattern can't eat an email's digits, an SSN, or an IP.
# Patterns are deliberately RE2-safe (no lookaround/backrefs): they behave
# identically under Java regex (Spark), RE2 (DuckDB/Go tooling), and PCRE —
# a redaction pass must be reproducible outside the engine that ran it.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(col="text", patterns=PII_PATTERNS):
    """Scrub PII from a text column: chained ``regexp_replace`` (pure
    Catalyst, map-only — no UDF). Returns the redacted column expression;
    compose as ``docs.withColumn("text", redact_pii())``."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in patterns:
        c = F.regexp_replace(c, pat, rep)
    return c


# ----------------------------------------------------------- decontamination

def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Eval-set decontamination: flag every training document sharing at
    least one k-word shingle with any document of ``eval_docs``.

    Returns ``(id_col, n_shared)`` — the count of DISTINCT shared shingles
    per contaminated doc (docs sharing none are absent; the clean training
    set is ``docs`` anti-joined on the result, see ``decontaminated``).

    Scale shape: eval sets (benchmarks) are tiny next to a 100-TB corpus,
    so the distinct eval shingle set always broadcasts and the corpus-side
    pass is MAP-SIDE explode + broadcast-hash semi-probe + one
    partial-aggregated count — the corpus never shuffles rows, only
    (id, count) partials. Shingle hashes are the same
    xxhash64 word tuples the near-dup family uses, so set membership is
    isomorphic to string shingles (what the DuckDB oracle computes).
    """
    ev = F.broadcast(
        exploded_shingles(eval_docs, k, id_col, text_col).select("g").distinct()
    )
    tr = exploded_shingles(docs, k, id_col, text_col)
    # per-doc shingles and ev are both distinct → count(*) = distinct shared
    return tr.join(ev, "g").groupBy(id_col).agg(
        F.count("*").alias("n_shared")
    )


def decontaminated(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """The clean training set: ``docs`` minus every contaminated document."""
    hits = decontaminate(docs, eval_docs, id_col, text_col, k)
    return docs.join(hits.select(id_col), id_col, "left_anti")


# -------------------------------------------------------- cleaning pipeline

def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    lang_col: str = "lang",
    near_dup_threshold: float = 0.8,
) -> DataFrame:
    """The composed training-data cleaning pipeline (the thing the component
    operators exist for): metadata language filter → quality-score filter →
    exact dedup (min-id winner) → near-dup dedup (drop the larger id of each
    verified pair). Returns the surviving documents with their scores.

    Every stage is one of the oracle-verified operators, so the WHOLE
    pipeline is oracle-verifiable end-to-end. Deterministic keep rule: a doc
    is dropped iff it is an exact-dup non-winner or appears as id_b of a
    verified near-dup pair among the filtered survivors (min-id docs always
    survive; no connected-components pass — the simple rule is what scales
    to one groupBy + one anti-join at 10^9 docs)."""
    q = quality_features(docs.filter(F.col(lang_col).isin(*langs)), text_col)
    # both engines filter the ROUNDED score (the oracle-matched value), so
    # the boundary decision is identical on both sides.
    # filtered (id, lang, score — no text) is consumed by the dedup base
    # AND the final score join: persist it so the regex-heavy quality
    # pass runs once (round 6; the heavier `kept` frame carries full text
    # and measured as a wash to cache — left lazy)
    filtered = _track(
        q.filter(F.col("q_score") >= min_quality).select(
            id_col, lang_col, "q_score"
        )
    )
    base = docs.join(filtered.select(id_col), id_col)
    # winner IDS persisted: the near-dup pass consumes them (via ``kept``)
    # and the final survivor anti-join needs ONLY ids — joining the final
    # branch on this tiny frame instead of the text-carrying ``kept``
    # removes a second full docs scan + quality join + digest aggregate
    # (round 6; ~1-2 s at sf1). Output rows are identical: ``kept`` is
    # unique per id and its lang equals ``filtered``'s for the same id.
    winners = _track(
        exact_dedup(base, id_col, text_col).select(
            F.col("keep_id").alias(id_col)
        )
    )
    kept = base.join(winners, id_col)
    losers = (
        minhash_lsh_pairs(
            kept,
            id_col,
            text_col,
            num_hashes=32,
            jaccard_threshold=near_dup_threshold,
            rows_per_band="auto",
            verify="exact",
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        winners.join(losers, id_col, "left_anti")
        .join(filtered, id_col)
        .select(id_col, lang_col, "q_score")
    )


# ------------------------------------------------------------------ simhash

def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc, entirely in Catalyst (no Python):
    explode whitespace tokens of lower(text) → md5 → 16 hex-digit values →
    64 bit-vote sums in ONE map-side-combinable groupBy → signature bits
    (vote > 0). Returned as two 32-bit halves (sig_hi = bits 63..32,
    sig_lo = bits 31..0) so xor/popcount stay sign-free in any engine.

    The md5-hex-digit bit derivation (instead of xxhash64) makes signatures
    reproducible bit-for-bit in the DuckDB oracle."""
    # the 16 digit projections / 64 vote sums / 64 half terms are SQL
    # STRINGS (one parser round-trip each) rather than Column composition —
    # the ~500 py4j calls of the Column build cost ~1.2s of DRIVER time per
    # query (same lesson as the embedding signature build, similarity.py)
    #
    # round 6: md5 runs once per DISTINCT (doc, token), not per occurrence —
    # a partial-aggregated groupBy(doc, token) count first, then the votes
    # weight each token's ±1 bit by its count. sum(±1 over occurrences) ==
    # sum(±1 × count over distinct tokens) exactly (integer arithmetic), so
    # signatures are bit-for-bit unchanged while the md5+digit-extract work
    # drops by the corpus's token-repetition factor (the extra shuffle
    # carries only distinct (doc, token, count) rows, map-side combined).
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("__t"),
    )
    cnts = toks.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__c"))
    hashed = cnts.selectExpr(f"`{id_col}`", "__c", "md5(__t) AS __h")

    # hex digit value via ascii arithmetic: '0'-'9' → 48-57, 'a'-'f' → 97-102
    # (md5 emits lowercase). Same value as conv(digit, 16, 10) at ~3× less
    # cost — conv is a general-radix string parse, 16 of them per token.
    digits = hashed.selectExpr(
        f"`{id_col}`",
        "__c",
        *[
            f"ascii(substring(__h, {d + 1}, 1)) - 48 - "
            f"IF(ascii(substring(__h, {d + 1}, 1)) >= 97, 39, 0) AS __d{d}"
            for d in range(16)
        ],
    )
    votes = [
        F.expr(
            f"sum(IF(((shiftright(__d{b // 4}, {b % 4}) & 1) = 1), __c, -__c))"
            f" AS __v{b}"
        )
        for b in range(64)
    ]
    sig = digits.groupBy(id_col).agg(*votes)

    def half_sql(bits):
        # L-suffixed literals force BIGINT terms (ANSI-safe: the int-only
        # prefix sum peaks at exactly 2^31 − 1)
        return " + ".join(
            f"IF(__v{b} > 0, {1 << (b - bits[0])}L, 0L)" for b in bits
        )

    return sig.selectExpr(
        f"`{id_col}`",
        f"CAST({half_sql(range(32, 64))} AS BIGINT) AS sig_hi",
        f"CAST({half_sql(range(0, 32))} AS BIGINT) AS sig_lo",
    )


def _simhash_blocks(sig: DataFrame, id_col: str) -> DataFrame:
    """Explode an (id, sig_hi, sig_lo) frame into its 4×16-bit pigeonhole
    blocks (blk, v): any pair within hamming 3 shares at least one."""
    mask = F.lit(0xFFFF)
    return sig.select(
        F.col(id_col),
        "sig_hi",
        "sig_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("blk"), F.shiftright("sig_hi", 16).alias("v")),
                F.struct(F.lit(1).alias("blk"), F.col("sig_hi").bitwiseAND(mask).alias("v")),
                F.struct(F.lit(2).alias("blk"), F.shiftright("sig_lo", 16).alias("v")),
                F.struct(F.lit(3).alias("blk"), F.col("sig_lo").bitwiseAND(mask).alias("v")),
            )
        ).alias("bb"),
    ).select(id_col, "sig_hi", "sig_lo", "bb.blk", "bb.v")


def _hamming():
    """Exact hamming distance between the ``a.`` and ``b.`` signatures of a
    blocked join."""
    return F.bit_count(
        F.col("a.sig_hi").bitwiseXOR(F.col("b.sig_hi"))
    ) + F.bit_count(F.col("a.sig_lo").bitwiseXOR(F.col("b.sig_lo")))


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dups by SimHash hamming distance with GUARANTEED recall for
    max_hamming <= 3: split the 64-bit signature into 4 16-bit blocks —
    any pair within hamming 3 leaves at least one block untouched
    (pigeonhole; the classic web-dedup blocking of Manku et al., public),
    so blocked candidates cover all true pairs and bit_count(xor) verifies
    exactly. The self-join key (block_id, block_value) is small and
    uniform — balanced shuffle, no cross product."""
    if max_hamming > 3:
        raise ValueError(
            "4-block pigeonhole guarantees recall only for max_hamming <= 3; "
            "use more blocks (multi-index) for larger radii"
        )
    # materialize the signature store: the blocked self-join references the
    # signature frame on BOTH sides, and without a persist each side
    # re-runs the whole corpus-wide tokenize+md5+64-vote pipeline (2× the
    # dominant cost, measured). N×(id, 2 longs) — spills if ever large.
    sig = _track(simhash_signatures(docs, id_col, text_col))
    blocked = _simhash_blocks(sig, id_col)
    return (
        _smaller_id_pairs(
            blocked, blocked, ["blk", "v"], id_col, _hamming().alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
