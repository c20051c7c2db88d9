"""Deduplication operators — exact and near-duplicate — for
training-data-scale corpora.

Exact dedup is a hash shuffle on the key (or a windowed keeper when a
deterministic survivor is required).  Near-dup is MinHash + banded LSH:
shingles → k minhashes → b bands of r rows → bucket join → candidate
pairs → exact-Jaccard verification of candidates only.  All pure
Catalyst expressions (xxhash64 + modular arithmetic) — no Python UDFs,
no all-pairs product anywhere.

Scale notes (100 TB):
- ``exact_dedup_keepers`` shuffles once on the key columns;
  ``dropDuplicates`` is cheaper when ANY survivor is acceptable
  (map-side partial dedup before the shuffle).
- MinHash signatures: one explode + one groupBy(id) — the shuffle
  carries k longs per doc, independent of document length.
- LSH bucket join: band×bucket is the join key; bucket skew (a
  degenerate bucket holding half the corpus) is the classic failure —
  ``max_bucket_size`` drops pathological buckets, mirroring the
  shingle-df cap in operators.text.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# MinHash parameters: h_i(x) = (a_i * x32 + b_i) mod P, with x32 the
# 32-bit-folded xxhash64 of the shingle.  P is the Mersenne prime
# 2^61-1; a_i < 2^29 keeps a_i * x32 + b_i < 2^62 — no long overflow.
_MERSENNE_P = (1 << 61) - 1
_A_MUL = 0x9E3779B1  # golden-ratio odd constant → well-spread a_i, b_i


def _minhash_params(k: int) -> list[tuple[int, int]]:
    return [
        (((_A_MUL * (2 * i + 1)) & ((1 << 29) - 1)) | 1,
         (_A_MUL * (7 * i + 3)) & ((1 << 31) - 1))
        for i in range(k)
    ]


def exact_dedup_keepers(
    df: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[str],
) -> DataFrame:
    """Deterministic survivor per duplicate group: the first row under
    ``tiebreak`` ordering within each ``keys`` partition
    (row_number() == 1).  One shuffle on the keys."""
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_keepers_by_priority(
    df: DataFrame,
    keys: Sequence[str],
    source_col: str,
    priority: dict,
    score_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Policy-driven survivor per duplicate group — what production
    corpus builds actually do: among copies of the same content, keep
    the one from the most-trusted feed, breaking ties by quality and
    then id, rather than ``exact_dedup_keepers``'s lowest-id rule.

    ``priority`` maps source value → rank (lower wins); unlisted
    sources rank AFTER every listed one.  Ordering inside each
    ``keys`` group: priority rank ASC, then ``score_col`` DESC NULLS
    LAST (when given), then ``id_col`` ASC.  Same single-shuffle
    row_number shape as ``exact_dedup_keepers`` — the policy is one
    map-side CASE expression, so 100 TB cost is identical.  The
    priority dict must be small (it compiles into the expression);
    hundreds of sources are fine, millions belong in a broadcast-join
    dimension instead."""
    if not priority:
        raise ValueError("priority must map at least one source to a rank")
    rank = F.when(
        F.col(source_col) == F.lit(next(iter(priority))),
        F.lit(priority[next(iter(priority))]),
    )
    for s, r in list(priority.items())[1:]:
        rank = rank.when(F.col(source_col) == F.lit(s), F.lit(r))
    rank = rank.otherwise(F.lit(max(priority.values()) + 1))
    order = [rank.asc()]
    if score_col is not None:
        order.append(F.col(score_col).desc_nulls_last())
    order.append(F.col(id_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Offender listing: key groups occurring more than once, with
    counts.  groupBy → filter; output cardinality = |dup groups|."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def minhash_signatures(
    shingles: DataFrame,
    k: int = 32,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
) -> DataFrame:
    """k-permutation MinHash signature per document from exploded
    (id, shingle) rows (operators.text.word_ngrams output).

    Per-row: k modular-hash columns off one xxhash64; then ONE
    groupBy(id) with k min() aggregates — shuffle state is k longs per
    document regardless of length.
    """
    x32 = F.pmod(F.xxhash64(F.col(shingle_col)), F.lit(1 << 32))
    hash_cols = [
        F.pmod(F.lit(a) * x32 + F.lit(b), F.lit(_MERSENNE_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_params(k))
    ]
    per_row = shingles.select(F.col(id_col), *hash_cols)
    return per_row.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(k)]
    )


def minhash_signatures_portable(
    shingles: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
) -> DataFrame:
    """Engine-portable MinHash signatures: permutation ``j`` hashes a
    shingle to the 32-bit md5 prefix of ``'<j>:' || shingle`` — the same
    portable primitive as operators/sketch.py — instead of
    xxhash64+modular permutation.  No arithmetic to overflow, identical
    in DuckDB, so the SIGNATURES themselves sit behind the exact oracle
    gate (banded pair generation remains engine-specific, rows-only).

    Same plan shape as ``minhash_signatures``: k hash columns per
    (id, shingle) row, ONE groupBy(id) with k min aggregates — shuffle
    state is k longs per document regardless of document length.  md5
    costs more per row than xxhash64: prefer ``minhash_signatures`` when
    cross-engine reproducibility is not required."""
    hash_cols = [
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{j}:"), F.col(shingle_col)).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias(f"h{j}")
        for j in range(k)
    ]
    per_row = shingles.select(F.col(id_col), *hash_cols)
    return per_row.groupBy(id_col).agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(k)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
    portable_buckets: bool = False,
) -> DataFrame:
    """Banded-LSH candidate pairs: split the k-column signature into
    ``bands`` bands, hash each band to a bucket, self-join per
    (band, bucket).  Never an all-pairs product — only same-bucket
    pairs are generated.

    ``max_bucket_size`` drops degenerate buckets (e.g. the
    all-identical-boilerplate bucket) whose pair fan-out is quadratic.

    ``portable_buckets=True`` keys buckets on the concatenated band
    values instead of their xxhash64 — identical exact-match banding
    semantics (the hash only compacts the key), but reproducible in
    SQL, which lets the registry oracle the WHOLE LSH pipeline when
    combined with ``minhash_signatures_portable``.  The xxhash64 key is
    smaller on the wire; prefer it when cross-engine reproducibility is
    not required.
    """
    sig_cols = [c for c in signatures.columns if c.startswith("mh")]
    if len(sig_cols) % bands:
        raise ValueError(f"{len(sig_cols)} signature columns not divisible into {bands} bands")
    r = len(sig_cols) // bands
    # ONE pass: per-row array of band buckets, posexploded — vs a union
    # of `bands` scans of the signature frame (bands× the read cost)
    if portable_buckets:
        band_buckets = F.array(*[
            F.concat_ws("-", *[F.col(c) for c in sig_cols[bi * r : (bi + 1) * r]])
            for bi in range(bands)
        ])
    else:
        band_buckets = F.array(*[
            F.xxhash64(*[F.col(c) for c in sig_cols[bi * r : (bi + 1) * r]])
            for bi in range(bands)
        ])
    buckets = signatures.select(
        F.col(id_col), F.posexplode(band_buckets).alias("band", "bucket")
    )
    if max_bucket_size is not None:
        # window count over the join key: ONE shuffle (vs groupBy +
        # join-back = two), and the downstream self-join on
        # (band, bucket) reuses the resulting hash partitioning
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bs", F.count(F.lit(1)).over(w))
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
    a = buckets.select(F.col(id_col).alias("ida"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("idb"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )


def verify_candidates_jaccard(
    candidates: DataFrame,
    shingles: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates only (join back to
    the shingle index; work is |candidates| · avg shingles, not N²)."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    a = shingles.select(F.col(id_col).alias("ida"), "shingle")
    b = shingles.select(F.col(id_col).alias("idb"), "shingle")
    common = (
        candidates.join(a, "ida")
        .join(b, ["idb", "shingle"])
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("ida"), F.col("nsh").alias("na")), "ida")
        .join(sizes.select(F.col(id_col).alias("idb"), F.col("nsh").alias("nb")), "idb")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ida", "idb", "jaccard")
    )


def estimate_filter_candidates(
    candidates: DataFrame,
    signatures: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cheap signature-agreement prefilter between banding and exact
    verification: estimate Jaccard as the fraction of matching minhash
    components and keep pairs within 1σ of the threshold (the k-sample
    Bernoulli-mean error, σ = √(J(1−J)/k) ≤ ½/√k).

    Banding over-generates hugely on corpora with shared boilerplate
    (one lucky band ⇒ candidate); this filter costs two joins against
    the |docs|-row signature table — orders of magnitude cheaper than
    running the shingle-index verify join on every candidate.  The 1σ
    margin trades a few percent recall at the threshold for pruning
    the sub-threshold background mass that banding lets through."""
    sig_cols = [c for c in signatures.columns if c.startswith("mh")]
    k = len(sig_cols)
    margin = 0.5 / (k ** 0.5)  # 1σ at the J(1-J) ≤ 1/4 worst case
    sa = signatures.select(
        F.col(id_col).alias("ida"), *[F.col(c).alias(f"_a{c}") for c in sig_cols]
    )
    sb = signatures.select(
        F.col(id_col).alias("idb"), *[F.col(c).alias(f"_b{c}") for c in sig_cols]
    )
    matches = sum(
        (F.col(f"_a{c}") == F.col(f"_b{c}")).cast("int") for c in sig_cols
    )
    return (
        candidates.join(sa, "ida")
        .join(sb, "idb")
        .withColumn("_est", matches / F.lit(float(k)))
        .filter(F.col("_est") >= threshold - margin)
        .select("ida", "idb")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    estimate_prefilter: bool = True,
    eager: bool = True,
) -> DataFrame:
    """End-to-end near-dup pipeline: shingle → MinHash(k) → LSH(bands)
    → [signature-estimate prefilter] → exact-Jaccard verify ≥ threshold.
    The standard corpus-dedup shape; every stage is a bounded shuffle.

    ``estimate_prefilter`` pays off when documents are long (shingles
    per doc ≫ k, so the k-long signature join is much cheaper than the
    shingle-index verify join); for short documents the direct verify
    is already cheap — disable it and skip the two extra joins.

    Cache hygiene: the shingle index feeds the signature builder AND
    the Jaccard verify join (4 consumers), so it is cached for the
    run.  With ``eager=True`` (default) the verified pairs — small by
    nature: banding + bucket caps bound them — are materialized via
    one eager ``localCheckpoint`` and the big intermediates are
    unpersisted (blocking) before returning: a long-lived session
    running many corpora accumulates NO executor storage beyond each
    call's own small result.  ``eager=False`` restores the fully lazy
    plan and transfers cache ownership to the caller (unpersist or
    ``spark.catalog.clearCache()`` between corpora)."""
    from .text import word_ngrams

    sh = word_ngrams(df, n=n, text_col=text_col, id_col=id_col).cache()
    sigs = minhash_signatures(sh, k=k, id_col=id_col)
    if estimate_prefilter:
        sigs = sigs.cache()
    try:
        cands = lsh_candidate_pairs(sigs, bands=bands, id_col=id_col)
        if estimate_prefilter:
            cands = estimate_filter_candidates(cands, sigs, threshold, id_col=id_col)
        result = verify_candidates_jaccard(cands, sh, threshold, id_col=id_col)
        if eager:
            result = result.localCheckpoint(eager=True)
        return result
    finally:
        if eager:
            sh.unpersist(blocking=True)
            if estimate_prefilter:
                sigs.unpersist(blocking=True)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash per document from whitespace tokens.

    Exploded (id, word, cnt) rows → for each bit b a signed vote
    sum(cnt if bit set else -cnt) → ONE groupBy(id) with 64 sum()
    aggregates → bits reassembled into a BIGINT (two's-complement bit
    pattern; bit 63 may set the sign — that is fine, it is a hash).
    Near-identical documents differ in O(1) bits (compare via hamming
    distance or band the 64 bits into 4×16 for bucketing).
    """
    t = F.trim(F.col(text_col))
    words = (
        df.filter(t != F.lit(""))
        .select(F.col(id_col), F.explode(F.split(t, r"\s+")).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    h = F.xxhash64("w")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Engine-portable SimHash: the per-token hash is the 32-bit md5
    prefix (same primitive as ``minhash_signatures_portable``), so the
    whole signature — token counts, signed bit votes, reassembly — is
    reproducible in DuckDB and sits behind the exact oracle gate.

    Same plan shape as ``simhash64``: explode → (id, word) count →
    ONE groupBy(id) with ``bits`` sum aggregates.  Capped at 32 bits
    (the md5 prefix width); prefer ``simhash64`` (xxhash64, 64 bits)
    when cross-engine reproducibility is not required."""
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in [1, 32], got {bits}")
    t = F.trim(F.col(text_col))
    words = (
        df.filter(t != F.lit(""))
        .select(F.col(id_col), F.explode(F.split(t, r"\s+")).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    h = F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col(id_col), sim.alias("simhash32"))


def simhash_band_pairs(
    simhashes: DataFrame,
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate pairs whose SimHash matches exactly on at least one
    16-bit band — catches pairs within small hamming distance without
    an all-pairs scan (same banding trick as MinHash LSH).

    ``max_bucket_size`` drops degenerate (band, value) buckets — e.g.
    a band that is 0 for every near-empty document — whose pair
    fan-out is quadratic in the bucket population."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    band_buckets = F.array(*[
        F.shiftright(F.col("simhash"), bi * band_bits).bitwiseAND(F.lit(mask))
        for bi in range(nbands)
    ])
    buckets = simhashes.select(
        F.col(id_col), F.posexplode(band_buckets).alias("band", "bucket")
    )
    if max_bucket_size is not None:
        # same one-shuffle window cap as lsh_candidate_pairs: the count
        # partitioning is reused by the self-join on (band, bucket)
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bs", F.count(F.lit(1)).over(w))
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
    a = buckets.select(F.col(id_col).alias("ida"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("idb"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
