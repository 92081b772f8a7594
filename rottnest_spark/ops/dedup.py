"""Deduplication operators for training-data pipelines.

Five dedup families over a document DataFrame, all pure Catalyst
expressions (whole-stage codegen, zero Python UDFs) so the hot path stays
JVM-side and every per-row computation is narrow (no shuffle until the
candidate join):

- exact_dup_groups        hash-groupBy exact duplicates
- minhash_lsh_pairs       MinHash signatures + banded LSH candidate join,
                          exact-Jaccard verify
- simhash_pairs           SimHash + pigeonhole chunk blocking; EXACT for a
                          hamming threshold (chunk count = max_hamming+1
                          guarantees recall 1.0)
- ngram_jaccard_pairs     exact shingle-Jaccard similarity join with prefix
                          filtering (PPJoin-style candidate reduction)
- embedding_cosine_pairs  exact all-pairs cosine >= tau (the brute-force
                          baseline; at scale, block through the IVF index —
                          see indices/vector.py — and verify exactly)

Determinism & cross-engine parity: every hash is derived from md5(), which
Spark and DuckDB compute identically, so the DuckDB oracles in
entrypoints.py reproduce these results bit-for-bit (including LSH banding).

Scale notes (100 TB):
- Signature computation is per-row `transform`/`aggregate` over arrays —
  embarrassingly parallel, no shuffle.
- The only shuffles are the candidate joins (band_key / chunk / shingle) —
  the standard LSH/PPJoin layouts. Skewed buckets (a band key shared by
  thousands of docs) are the known hazard: AQE skew-join handles moderate
  skew; `max_bucket` drops degenerate buckets (documented recall trade).
- Verification joins fetch shingle arrays only for candidate ids — at scale
  this is a semi-join against a tiny candidate set, broadcast when small.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# shared shingling expressions
# --------------------------------------------------------------------------


def tokens_col(col: str):
    return F.split(F.lower(F.col(col)), " ")


def _verify_jaccard(
    cands: DataFrame,
    df: DataFrame,
    id_col: str,
    col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs. Shingles are recomputed for
    the CANDIDATE ids only (semi-join first): at scale the candidate set is
    orders of magnitude smaller than the corpus, so this beats both
    materializing every doc's shingle array (checkpoint serialization cost)
    and re-shingling the full corpus per join branch."""
    # checkpoint the CANDIDATE PAIRS (small by construction): they feed the
    # id semi-join and the final pair join, and re-running the candidate
    # generation DAG twice costs far more than materializing a pair list
    cands = cands.localCheckpoint()
    cand_ids = (
        cands.select(F.explode(F.array("id_a", "id_b")).alias("cid")).distinct()
    )
    cand_sh = shingled_docs(
        df.join(F.broadcast(cand_ids), df[id_col] == cand_ids["cid"], "leftsemi"),
        id_col,
        col,
        n,
        distinct=True,
    )
    sh_a = cand_sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = cand_sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingled_docs(
    df: DataFrame, id_col: str, col: str, n: int, distinct: bool
) -> DataFrame:
    """(id, sh): word n-gram shingle arrays.

    The token array binds to a column BEHIND a repartition barrier before
    the shingling transform: expressions inside transform() lambdas are not
    CSE'd, so an inlined split(lower(text)) would re-tokenize the document
    for every element access (~3x measured). The barrier also makes the
    exchange reusable when callers reference the shingles multiple times.

    Rows with fewer than n tokens (empty shingle sets) are dropped HERE, on
    the token count, never by callers filtering size(sh) > 0: a filter that
    references `sh` gets pushed below the barrier, where it inlines the
    whole transform with split() repeated per element access — an O(tokens²)
    re-tokenization at the scan (measured 9 s vs 0.3 s for 5k docs on
    Spark 4.1)."""
    from rottnest_spark.core.tuning import tuned_for_lambda_explode

    df = tuned_for_lambda_explode(df)
    bound = (
        df.select(F.col(id_col).alias("id"), tokens_col(col).alias("tk"))
        .filter(F.size("tk") >= n)
        .repartition("id")
    )
    parts = ", ' ', ".join(f"tk[i+{k}]" for k in range(n))
    base = (
        f"CASE WHEN size(tk) >= {n} THEN "
        f"transform(sequence(0, size(tk) - {n}), i -> concat({parts})) "
        f"ELSE array() END"
    )
    expr = f"array_distinct({base})" if distinct else base
    return bound.select("id", F.expr(expr).alias("sh"))


# --------------------------------------------------------------------------
# 1. exact duplicates
# --------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame, id_col: str, col: str, window: int = 8
) -> DataFrame:
    """Exact duplicate PASSAGES: token windows of length `window` that occur
    in 2+ distinct documents (the train-set substring-dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models Better" —
    their suffix-array scan re-expressed as a window-hash aggregate).

    Returns (span_hash, n_docs, n_occ, first_doc). One shuffle on the md5
    window hash — uniform, skew-free; occurrences partial-aggregate map-side
    so the exchange carries one row per distinct span per task. A boilerplate
    span shared by every document is ONE group row (count n), never a pair
    blow-up, so unlike pair-joins this is safe against pathological overlap.
    """
    from rottnest_spark.core.tuning import tuned_for_lambda_explode

    df = tuned_for_lambda_explode(df)
    docs = (
        df.select(F.col(id_col).alias("id"), tokens_col(col).alias("tk"))
        .filter(F.size("tk") >= window)
        .repartition("id")  # bind tk behind a barrier (see shingled_docs)
    )
    spans = docs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {window - 1}),"
                f" i -> md5(concat_ws(' ', slice(tk, i, {window}))))"
            )
        ).alias("span_hash"),
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def exact_dup_groups(df: DataFrame, id_col: str, col: str) -> DataFrame:
    """Groups of byte-identical values: (content_hash, n_dups, keep_id).

    The canonical keep-one-representative policy (min id). One shuffle on
    the 32-hex md5 — uniformly distributed, skew-free by construction.
    """
    return (
        df.groupBy(F.md5(F.col(col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col(id_col)).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# 2. MinHash + banded LSH
# --------------------------------------------------------------------------

_MH_MOD = 1 << 32


def _mh_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic 2-universal family coefficients: h_i(x) = (a_i*h + b_i)
    mod 2^32 over the 32-bit md5 prefix h. a_i odd and < 2^20 keeps every
    product < 2^52 (exact in signed 64-bit on both engines)."""
    import hashlib

    def d(tag: str, i: int) -> int:
        return int.from_bytes(hashlib.md5(f"{tag}-{i}".encode()).digest()[:8], "big")

    a = [(d("minhash-a", i) % (1 << 20)) | 1 for i in range(num_hashes)]
    b = [d("minhash-b", i) % _MH_MOD for i in range(num_hashes)]
    return a, b


def _lsh_banded(
    df: DataFrame,
    id_col: str,
    col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band_key): the LSH bucket assignment shared by the pair join and
    the bucket-size audit. One md5 per shingle; permutations are a
    2-universal integer family; per-seed mins are codegen'd MIN aggregates
    with map-side combine (one row per doc crosses the shuffle)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    docs = shingled_docs(df, id_col, col, n, distinct=True)
    ca, cb = _mh_coeffs(num_hashes)
    hashed = docs.select("id", F.explode("sh").alias("x")).select(
        "id",
        F.expr("cast(conv(substr(md5(x), 1, 8), 16, 10) AS bigint)").alias("h"),
    )
    sigs = (
        hashed.groupBy("id")
        .agg(
            *[
                F.min((F.lit(ca[i]) * F.col("h") + F.lit(cb[i])) % F.lit(_MH_MOD)).alias(
                    f"m{i}"
                )
                for i in range(num_hashes)
            ]
        )
        .select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))
    )
    return sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> md5(concat(cast(b AS string), '#', "
                f"concat_ws(',', transform(slice(sig, b * {r} + 1, {r}), "
                f"v -> cast(v AS string))))))"
            )
        ).alias("band_key"),
    ).distinct()


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str,
    col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """One-row audit of the LSH bucket-size distribution — the "no silent
    caps" report for the max_bucket skew guard: how many buckets exist, how
    many the guard drops, and how many candidate pairs those buckets would
    have emitted (B*(B-1)/2 each). Run it alongside any guarded dedup so a
    capped run is visibly capped."""
    sizes = (
        _lsh_banded(df, id_col, col, n, num_hashes, bands)
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("bsz"))
    )
    over = (
        (F.col("bsz") > F.lit(max_bucket)).cast("long")
        if max_bucket is not None
        else F.lit(0).cast("long")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bsz").alias("max_bucket_size"),
        F.sum(over).alias("n_dropped_buckets"),
        F.sum(
            over * (F.col("bsz") * (F.col("bsz") - 1) / 2).cast("long")
        ).alias("dropped_candidate_pairs"),
        F.lit(max_bucket).cast("long").alias("max_bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, jaccard) with jaccard >= threshold among
    LSH candidates.

    `max_bucket` is the skew guard for the bucket self-join: a band key
    shared by B docs emits B² candidates, so one degenerate bucket (e.g.
    boilerplate-heavy corpora) can dominate the whole job. Buckets larger
    than max_bucket are dropped — an explicit recall trade (pairs only
    co-occurring in huge buckets are lost), OFF by default so results stay
    oracle-exact.

    Each shingle is md5-hashed ONCE (32-bit prefix); the `num_hashes`
    permutations derive from a deterministic 2-universal integer family
    (a_i*h + b_i mod 2^32) — 32x fewer digests than hashing per seed, and
    the per-seed mins run as codegen'd MIN aggregates with map-side
    combine, so the shuffle carries one row per doc. Bands of
    r = num_hashes/bands signature values hash to a bucket key; pairs
    sharing any bucket are verified with the exact Jaccard on distinct
    shingle sets (|A∩B| / (|A|+|B|-|A∩B|)).

    Candidate generation is probabilistic (the classic s-curve at
    threshold ~ (1/bands)^(1/r)); the verify step removes false positives,
    so precision is exact and only recall is approximate — the same
    contract as the reference's index-prune + refine (SURVEY §0).
    """
    # localCheckpoint: the (id, band_key) table is node-scale-small and is
    # referenced by the bucket-size guard AND both sides of the self-join —
    # alias rewrites defeat exchange reuse, so without materialization the
    # whole signature pipeline runs once per reference (13.8s -> 9.0s at
    # sf0.1).
    banded = _lsh_banded(df, id_col, col, n, num_hashes, bands).localCheckpoint(
        eager=True
    )
    if max_bucket is not None:
        ok = (
            banded.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= max_bucket)
            .select("band_key")
        )
        banded = banded.join(ok, "band_key")
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), "band_key")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cands, df, id_col, col, n, threshold)


# --------------------------------------------------------------------------
# 3. SimHash (exact under pigeonhole blocking)
# --------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed 64-bit in both engines


def simhash_signatures(df: DataFrame, id_col: str, col: str, n: int = 3) -> DataFrame:
    """(id, sig): 60-bit SimHash over word n-gram shingles WITH multiplicity
    (classic frequency-weighted simhash).

    Bit votes run as 60 codegen'd SUM aggregates over exploded shingle
    hashes, NOT as higher-order-function lambdas: HOF lambdas evaluate
    interpreted (measured ~7 ms/row for 60 bits x 150 shingles; this form
    is ~20x faster). The explode looks expensive but map-side partial
    aggregation collapses it to one 61-column row per doc per partition
    before the shuffle, so shuffle volume stays O(#docs).

    bit b of sig = 1  iff  2*(count of shingles with bit b set) > #shingles
    (tie -> 0) — identical to the sign-of-the-vote-sum definition used by
    the DuckDB oracle."""
    # hash AFTER exploding: md5/conv on a flat column stays inside
    # whole-stage codegen; the same md5 inside a transform() lambda runs
    # interpreted (~3s vs ~0.5s for 26k shingles, measured)
    shingled = shingled_docs(df, id_col, col, n, distinct=False)
    votes = (
        shingled.select("id", F.explode("sh").alias("x"))
        .select(
            "id",
            F.expr("cast(conv(substr(md5(x), 1, 15), 16, 10) AS bigint)").alias("h"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("t"),
            *[
                F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
                for b in range(SIMHASH_BITS)
            ],
        )
    )
    sig = sum(
        (
            F.when(F.col(f"b{b}") * 2 > F.col("t"), F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(SIMHASH_BITS)
        ),
        F.lit(0).cast("long"),
    )
    with_sig = votes.select("id", sig.alias("sig"))
    # docs shorter than n tokens have no shingles and vanish in the explode;
    # restore them with the empty signature 0 to match the definition.
    # (ids come from a plain scan of df — no shingling recompute)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(with_sig, "id", "left")
        .select("id", F.coalesce("sig", F.lit(0).cast("long")).alias("sig"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    col: str,
    n: int = 3,
    max_hamming: int = 8,
) -> DataFrame:
    """ALL pairs (id_a, id_b, hamming) with hamming(simhash) <= max_hamming.

    EXACT despite blocking: signatures are split into max_hamming+1 bit
    chunks; two signatures within the hamming budget must agree on at least
    one chunk (pigeonhole), so the chunk-equality join has recall 1.0 and
    the bit_count(xor) verify gives exact precision.
    """
    chunks = max_hamming + 1
    width = math.ceil(SIMHASH_BITS / chunks)
    # Materialize signatures before the self-join: both join branches would
    # otherwise recompute the full hash+vote DAG (exchange reuse does not
    # survive the explode/alias rewrite). The table is one (id, sig) row
    # per doc — tiny at any scale — so localCheckpoint is the right trade.
    sigs = simhash_signatures(df, id_col, col, n).localCheckpoint()
    keyed = sigs.select(
        "id",
        "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), c -> "
                f"struct(c AS chunk, shiftright(sig, c * {width}) & {(1 << width) - 1} AS val))"
            )
        ).alias("ck"),
    ).select("id", "sig", "ck.chunk", "ck.val")
    return (
        keyed.alias("a")
        .join(keyed.alias("b"), ["chunk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# 4. exact n-gram Jaccard similarity join (prefix-filtered)
# --------------------------------------------------------------------------


def ppjoin_overlap_bound(threshold: float, size_sum: str):
    """ceil(t/(1+t)·(|A|+|B|)), the least |A∩B| of a pair with
    jaccard >= t, in exact integer arithmetic over the SQL expression
    `size_sum`. The double form over-requires by one wherever
    t/(1+t)·s lands a hair above an integer (t = 0.18, s = 413: 64
    instead of 63) and prunes a pair the verify accepts. t/(1+t) is
    p/q from the threshold's decimal literal and ceil(p·s/q) =
    (p·s + q - 1) div q. A long holds p·s for s < 2^32 when p < 2^31;
    longer literals compute in decimal."""
    from fractions import Fraction

    t = Fraction(str(threshold))
    r = t / (1 + t)
    p, q = r.numerator, r.denominator
    typ = "bigint" if p < 2**31 else "decimal(38,0)"
    return F.expr(
        f"(CAST({p} AS {typ}) * CAST({size_sum} AS {typ}) "
        f"+ CAST({q - 1} AS {typ})) div CAST({q} AS {typ})"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT similarity join: all pairs with shingle-Jaccard >= threshold.

    Prefix filtering: order each doc's shingles by ascending global
    frequency (rarest first, shingle as tie-break); if jaccard(A,B) >= t
    then |A∩B| >= t/(1+t)·(|A|+|B|) >= t·|A|, so A and B must share a
    shingle within each one's first |A| - ceil(t·|A|) + 1 shingles. Only
    those prefix shingles enter the inverted-index join — the candidate set
    shrinks by ~1/(1-t) while staying lossless.
    """
    docs = shingled_docs(df, id_col, col, n, distinct=True)

    # localCheckpoint: the flat shingle table feeds THREE consumers (global
    # frequency agg, the ranked window, and through it the prefix join);
    # without it each consumer re-runs the interpreted shingling transform.
    # Measured 20.4s -> 13.0s cold at sf0.1. Flat (id, sz, g) rows compress
    # far better than the array form the round-1 note warns about.
    exploded = docs.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
    ).localCheckpoint(eager=True)
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("freq"))
    from pyspark.sql.window import Window

    ranked = (
        exploded.join(freq, "g")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy("freq", "g")
            ),
        )
        .withColumn(
            "prefix_len",
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1,
        )
    )
    prefix = ranked.filter(F.col("pos") <= F.col("prefix_len")).select(
        "id", "sz", "g", "pos"
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        # length filter (lossless): jaccard >= t forces t·|A| <= |B| <= |A|/t,
        # so size-mismatched pairs drop before the distinct and the verify
        .filter(
            (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
        )
        # positional filter (PPJoin, lossless): every shared shingle of a
        # true pair sits at position >= this occurrence's (pa, pb) in the
        # shared global (freq, g) order at the pair's FIRST shared gram, so
        # |A∩B| <= 1 + min(|A|-pa, |B|-pb); jaccard >= t needs |A∩B| >=
        # ceil(t/(1+t)·(|A|+|B|)). A pair survives if ANY occurrence
        # passes, and its first shared prefix gram always does — measured
        # at sf0.1: candidate pairs 309,803 -> 124,979 before the verify
        .filter(
            F.lit(1)
            + F.least(
                F.col("a.sz") - F.col("a.pos"),
                F.col("b.sz") - F.col("b.pos"),
            )
            >= ppjoin_overlap_bound(threshold, "a.sz + b.sz")
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cands, df, id_col, col, n, threshold)


# --------------------------------------------------------------------------
# 5. embedding cosine near-dup
# --------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine similarity >= threshold: (id_a, id_b, cosine).

    GEMM-blocked all-pairs: rows hash into `blocks` buckets; every
    unordered bucket pair becomes one applyInPandas group that computes its
    cross-similarities as ONE numpy float64 matmul. Versus the naive
    crossJoin + interpreted zip_with (measured 12s at sf0.1 vs ~2s here):

    - per-pair work is a BLAS inner loop, not an interpreted lambda;
    - data replication is x`blocks` (each row joins every bucket), not
      x`n` — Arrow ships each vector `blocks` times total;
    - bucket pairs are independent tasks: scale out by raising `blocks`
      (~sqrt(cluster cores)); the n² FLOPs are unavoidable for the exact
      result, so putting them in BLAS is the optimum shape.

    Still quadratic by definition — the approximate scale path is IVF-
    centroid blocking + this same verify (tests/test_dedup.py).
    """
    pid_expr = (
        f"array_distinct(transform(sequence(0, {blocks - 1}), "
        f"o -> IF(o < blk, o * {blocks} + blk, blk * {blocks} + o)))"
    )
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).alias("blk"),
    )
    replicated = vecs.select(
        "id", "v", "blk", F.explode(F.expr(pid_expr)).alias("pid")
    )

    nblocks = blocks
    tau = threshold

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # executor-side

        pid = int(pdf["pid"].iloc[0])
        bi, bj = pid // nblocks, pid % nblocks
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["id"].to_numpy()
        blk = pdf["blk"].to_numpy()
        if bi == bj:
            sim = m @ m.T
            iu, ju = np.triu_indices(len(ids), k=1)
        else:
            ai, aj = np.where(blk == bi)[0], np.where(blk == bj)[0]
            sim = m[ai] @ m[aj].T
            iu, ju = np.meshgrid(
                np.arange(len(ai)), np.arange(len(aj)), indexing="ij"
            )
            iu, ju = iu.ravel(), ju.ravel()
            ids_i, ids_j = ids[ai], ids[aj]
        if bi == bj:
            ids_i = ids_j = ids
        cs = np.round(sim[iu, ju], 4)
        keep = cs >= tau
        ia, jb = ids_i[iu[keep]], ids_j[ju[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, jb),
                "id_b": np.maximum(ia, jb),
                "cosine": cs[keep],
            }
        )

    return replicated.groupBy("pid").applyInPandas(
        block_pair, "id_a long, id_b long, cosine double"
    )


def embedding_cosine_pairs_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    rows_per_centroid: int = 64,
    probes: int = 2,
    seed: int = 42,
) -> DataFrame:
    """APPROXIMATE near-dup pairs: IVF-centroid blocking + exact verify.

    The scale path for n too large for all-pairs: k-means centroids
    partition the space; each vector is assigned to its `probes` nearest
    centroids (multi-probe catches pairs straddling a cluster boundary);
    candidate pairs share >=1 centroid and are verified with an exact
    numpy cosine inside each centroid group. Precision is exact; recall is
    approximate and rises with `probes` (recall harness in
    tests/test_dedup.py). Work is O(sum of cluster sizes squared), i.e.
    ~n * rows_per_centroid * probes^2 instead of n^2.
    """
    import numpy as np

    from rottnest_spark.indices.vector import _lloyd_gemm

    feat = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    feat = feat.persist()
    n = feat.count()
    k = max(1, min(n // rows_per_centroid, 4096, n))
    # sample-trained Lloyd (bounded driver sample, GEMM distances) — same
    # rationale as VectorIndex.build: centroids only shape the blocking,
    # the within-block cosine verify is exact, so training on everything
    # buys nothing at 100 TB. The sample is HASH-selected and id-ordered
    # (not df.sample + partition-order collect): membership and row order
    # — hence centroids, hence the dedup output — are functions of the
    # DATA alone, reproducible across partitionings and engines (which is
    # also what lets an external oracle recompute them)
    from rottnest_spark.ops.sampling import hash_sample

    target = k * 40
    frac = min(1.0, (target * 1.2) / max(n, 1))
    sample_df = (
        hash_sample(feat, "id", frac, seed=f"ivf:{seed}")
        if frac < 1.0
        else feat
    )
    x = np.array(
        [
            r["v"]
            for r in sample_df.select("id", "v").orderBy("id").collect()
        ],
        dtype=np.float64,
    )
    if len(x) < k:
        x = np.array(
            [r["v"] for r in feat.orderBy("id").limit(k).collect()],
            dtype=np.float64,
        )
    centers = _lloyd_gemm(x, k, iters=10, seed=seed)
    k = len(centers)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(centers)
    npr = min(probes, k)
    tau = threshold

    def assign(batches):
        for pdf in batches:
            c = bc.value
            cn = (c * c).sum(axis=1)
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            # L2 to centroids via GEMM (||m||² drops under per-row argsort)
            d = cn[None, :] - 2.0 * (m @ c.T)
            top = np.argsort(d, axis=1, kind="stable")[:, :npr]
            ids = pdf["id"].to_numpy().repeat(npr)
            yield pd.DataFrame(
                {
                    "cid": top.ravel(),
                    "id": ids,
                    "v": [v for v in pdf["v"] for _ in range(npr)],
                }
            )

    assigned = feat.select("id", "v").mapInPandas(
        assign, "cid int, id long, v array<float>"
    )

    def within(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["id"].to_numpy()
        sim = m @ m.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cs = np.round(sim[iu, ju], 4)
        keep = (cs >= tau) & (ids[iu] != ids[ju])
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, jb),
                "id_b": np.maximum(ia, jb),
                "cosine": cs[keep],
            }
        )

    return (
        assigned.groupBy("cid")
        .applyInPandas(within, "id_a long, id_b long, cosine double")
        .distinct()  # a pair can surface in several probed clusters
    )


# --------------------------------------------------------------------------
# 6. Connected components (group-level dedup)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component): transitive closure over a pair graph — component =
    the MIN id reachable from each node. This is the group-level step pair
    emitters (MinHash/SimHash/cosine) need: chains a~b, b~c collapse into
    ONE group even when (a, c) was never emitted as a pair.

    Algorithm: iterative min-label propagation. Each round joins labels
    across the (symmetrized) edge list and keeps the per-node min; the
    label table is localCheckpoint'ed per round (it is node-scale — tiny
    next to the corpus — and checkpointing truncates the lineage that
    would otherwise double every round). Rounds needed = graph diameter;
    near-dup graphs are shallow (duplicate clusters, not paths), so the
    default bound is generous. Raises if the bound is hit without
    convergence rather than returning partial components."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("id", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nc"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nc", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        f"— pathological chain graph; raise max_iterations"
    )


def keep_group_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str, quality_col: str | None = None
) -> DataFrame:
    """Drop every row of a near-dup component except one representative —
    the transitive-closure-correct dedup policy (the pairwise 'drop the
    max side of each pair' policy can over-drop on chains).

    Default representative: min id (deterministic, join-free). With
    `quality_col`, keep the HIGHEST-quality member instead (ties break on
    min id) — the SemDeDup-style curation policy of keeping the best
    exemplar. The quality lookup joins only component members (a near-dup
    subset of the corpus), aggregated per component with one max_by."""
    comps = connected_components(pairs)
    if quality_col is None:
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    member_q = comps.join(
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("_q")),
        "id",
    )
    best = member_q.groupBy("component").agg(
        F.max_by(
            "id", F.struct(F.col("_q"), -F.col("id"))
        ).alias("keep_id")
    )
    losers = (
        member_q.join(best, "component")
        .filter(F.col("id") != F.col("keep_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    rows_per_centroid: int = 64,
    probes: int = 1,
    seed: int = 42,
    quality_col: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster the
    embedding space, call intra-cluster pairs with cosine >= threshold
    semantic duplicates, keep ONE representative per duplicate component.

    Composition of the scale-path primitives above: IVF-centroid blocking
    (O(n * cluster) candidate generation, `probes`=1 matches the paper's
    within-cluster-only comparisons), exact BLAS verify, transitive-closure
    grouping, min-id representative. Returns the deduplicated `df` rows
    unchanged in schema — drop-in before tokenization in a curation
    pipeline. Recall rises with `probes`; precision is exact for the
    cosine criterion either way (SURVEY §0's prune + exact-refine
    contract)."""
    pairs = embedding_cosine_pairs_ivf(
        df, id_col, vec_col, threshold,
        rows_per_centroid=rows_per_centroid, probes=probes, seed=seed,
    )
    return keep_group_representatives(df, pairs, id_col, quality_col)


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Public (id, band_key) LSH bucket assignment — the PERSISTABLE
    near-dup state. Write it per ingested batch and new batches dedup
    against history by joining band keys instead of re-scanning (or
    re-shingling) the lake. Deterministic: same text, same bands, on any
    engine/run (md5-derived permutations)."""
    return _lsh_banded(df, id_col, col, n, num_hashes, bands)


def incremental_neardedup(
    batch: DataFrame,
    history_bands: DataFrame,
    id_col: str,
    col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    history_docs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an append-only corpus using only the
    persisted band table — the lake's text is never re-scanned (with
    `history_docs=None`) or touched only for candidate partners (verify
    mode). Returns (clean_batch, clean_bands); append both.

    - history_docs=None: a batch doc sharing ANY band bucket with history
      is dropped (pure LSH — precision approximate, the s-curve's false
      positives are dropped too; the cheap mode for boilerplate-heavy
      feeds where collisions ARE near-dups).
    - history_docs=(id, text) view of the corpus: candidates are verified
      with the exact Jaccard, computed only for the candidate partner ids
      (candidate-scale fetch, same discipline as _verify_jaccard).

    Scale: the join shuffles the BATCH bands (batch-scale) against the
    history band table keyed by band_key; persist the band table sorted by
    band_key (e.g. `_write_index`-style) so bucket ranges prune the
    history side's scan. Intra-batch near-dups: run minhash_lsh_pairs on
    the batch first — this function handles batch-vs-history only.
    """
    bb = minhash_band_table(batch, id_col, col, n, num_hashes, bands)
    bb = bb.localCheckpoint(eager=True)  # feeds suspect join AND clean-band output
    hist = history_bands.select(
        F.col("id").alias("hid"), F.col("band_key").alias("bk")
    )
    if history_docs is None:
        dup_ids = (
            bb.join(hist, bb.band_key == F.col("bk"), "inner")
            .select("id")
            .distinct()
        )
    else:
        cand = (
            bb.join(hist, bb.band_key == F.col("bk"), "inner")
            .select(F.col("id").alias("id_a"), F.col("hid").alias("id_b"))
            .distinct()
        )
        both = batch.select(
            F.col(id_col).alias("__vid__"), F.col(col).alias("__vtxt__")
        ).unionByName(
            history_docs.select(
                F.col(id_col).alias("__vid__"), F.col(col).alias("__vtxt__")
            )
        )
        verified = _verify_jaccard(
            cand, both, "__vid__", "__vtxt__", n, threshold
        )
        dup_ids = verified.select(F.col("id_a").alias("id")).distinct()
    clean = batch.join(
        dup_ids, batch[id_col] == dup_ids["id"], "left_anti"
    )
    clean_bands = bb.join(
        dup_ids, bb["id"] == dup_ids["id"], "left_anti"
    )
    return clean, clean_bands
