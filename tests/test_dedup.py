"""Dedup operators: exactness properties and cross-family agreement.

- minhash LSH (approx recall) finds exactly the exact-join pairs on the
  planted fixture — and never a pair below threshold (exact precision).
- simhash chunk blocking is EXACT (pigeonhole): equals brute-force hamming.
- exact groups partition the table.
- cosine pairs match a numpy brute force.
"""


import numpy as np
import pytest
from pyspark.sql import functions as F

from rottnest_spark.ops import dedup
from rottnest_spark.sources.reader import read_parquet


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def test_minhash_equals_exact_join_on_planted_pairs(spark, docs):
    got = _pairs(dedup.minhash_lsh_pairs(docs, "doc_id", "text"))
    want = _pairs(dedup.ngram_jaccard_pairs(docs, "doc_id", "text"))
    assert len(want) > 0
    # precision is exact by construction; on the planted fixture recall is
    # 1.0 too (32 hashes / 8 bands s-curve @ tau=0.5)
    assert got == want


def test_minhash_no_pair_below_threshold(spark, docs):
    out = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    assert out.filter(F.col("jaccard") < 0.5).count() == 0


def test_simhash_blocking_is_exact(spark, docs):
    """Pigeonhole blocking must equal the all-pairs brute force."""
    got = _pairs(dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8))
    sigs = dedup.simhash_signatures(docs, "doc_id", "text").collect()
    want = sorted(
        (min(a["id"], b["id"]), max(a["id"], b["id"]))
        for i, a in enumerate(sigs)
        for b in sigs[i + 1 :]
        if bin(a["sig"] ^ b["sig"]).count("1") <= 8
    )
    assert got == want
    assert len(got) > 0


@pytest.mark.parametrize("t", [0.18, 0.43, 0.57, 0.59, 0.84, 0.86])
def test_ppjoin_overlap_bound_is_exact(spark, t):
    """ceil(t/(1+t)·s) computed in doubles over-requires by one at these
    thresholds (t = 0.18, s = 413 gives 64, not 63) and prunes pairs the
    verify accepts; the bound must equal the exact rational ceiling."""
    from fractions import Fraction

    r = Fraction(str(t)) / (1 + Fraction(str(t)))
    got = {
        row["s"]: row["need"]
        for row in spark.range(5001)
        .select(
            F.col("id").alias("s"),
            dedup.ppjoin_overlap_bound(t, "id").alias("need"),
        )
        .collect()
    }
    want = {s: -(-r.numerator * s // r.denominator) for s in range(5001)}
    assert got == want
    if t == 0.18:
        assert got[413] == 63


def test_exact_dup_groups_partition(spark, sf_dir):
    ev = read_parquet(spark, [f"{sf_dir}/events.parquet"])
    total = ev.count()
    distinct = ev.select("props").distinct().count()
    groups = dedup.exact_dup_groups(ev, "event_id", "props")
    agg = groups.agg(
        F.sum("n_dups").alias("in_groups"), F.count(F.lit(1)).alias("n_groups")
    ).collect()[0]
    # rows in dup groups + unique rows == total
    assert (agg["in_groups"] or 0) + (distinct - (agg["n_groups"] or 0)) == total


def test_embedding_cosine_matches_numpy(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sim = m @ m.T
    tau = 0.45
    want = sorted(
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(sim[i, j], 4) >= tau
    )
    got = _pairs(dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", tau))
    assert got == want


def test_ivf_cosine_recall_and_precision(spark, sf_dir):
    """IVF blocking: exact precision always; recall rises with probes."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tau = 0.4505
    exact = set(
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb, "vec_id", "embedding", tau
        ).collect()
    )
    assert exact
    recalls = []
    for probes in (1, 4):
        got = set(
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_cosine_pairs_ivf(
                emb, "vec_id", "embedding", tau, probes=probes
            ).collect()
        )
        assert got <= exact  # precision 1.0: verify step is exact
        recalls.append(len(got & exact) / len(exact))
    assert recalls[-1] >= 0.9
    assert recalls[0] <= recalls[-1] + 1e-9


def test_minhash_max_bucket_skew_guard(spark, docs):
    """Huge cap == unchanged; tiny cap only removes pairs (recall trade,
    never precision)."""
    full = _pairs(dedup.minhash_lsh_pairs(docs, "doc_id", "text"))
    capped = _pairs(
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=10_000)
    )
    assert capped == full
    tiny = _pairs(dedup.minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=2))
    assert set(tiny) <= set(full)


def test_connected_components_chain_and_star(spark):
    """Chains collapse transitively; min id labels the component."""
    from rottnest_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_convergence_guard(spark):
    from rottnest_spark.ops.dedup import connected_components

    # a path graph of length 12 needs ~12 rounds > the tiny bound
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iterations=2)
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 13


def test_keep_group_representatives_vs_pairwise_policy(spark):
    """On a chain a~b, b~c the component policy keeps exactly one doc."""
    from rottnest_spark.ops.dedup import keep_group_representatives

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (9, "w")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"]
        for r in keep_group_representatives(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 9]


def test_semantic_dedup_keeps_one_per_cluster_dup_group(spark):
    """Synthetic: 3 tight semantic groups + 2 singletons. Every group keeps
    exactly one member (min id) and singletons always survive; schema is
    passthrough."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    groups = []
    for g in range(3):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        members = []
        for _ in range(4):
            v = base + rng.normal(scale=0.005, size=16)  # cosine ~0.9999
            rows.append((vid, [float(x) for x in v], g))
            members.append(vid)
            vid += 1
        groups.append(members)
    singles = []
    for g in range(2):
        v = rng.normal(size=16)  # random 16-dim: cosine ~0 to others
        rows.append((vid, [float(x) for x in v], 100 + g))
        singles.append(vid)
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    kept = dedup.semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.95, rows_per_centroid=4
    )
    kept_ids = {r["vec_id"] for r in kept.collect()}
    assert set(kept.columns) == {"vec_id", "embedding", "label"}
    for members in groups:
        assert len(kept_ids & set(members)) == 1
        assert min(members) in kept_ids  # min-id representative
    assert set(singles) <= kept_ids


def test_keep_representatives_by_quality(spark):
    """quality_col keeps the best member per component (ties -> min id);
    default policy keeps min id."""
    from rottnest_spark.ops.dedup import keep_group_representatives

    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.9), (10, 0.5), (20, 0.7)],
        "id long, q double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    by_id = {r["id"] for r in keep_group_representatives(df, pairs, "id").collect()}
    assert by_id == {1, 10, 20}
    by_q = {
        r["id"]
        for r in keep_group_representatives(df, pairs, "id", "q").collect()
    }
    assert by_q == {2, 10, 20}  # 2 and 3 tie on q=0.9 -> min id 2


# -- incremental near-dedup (band table as persisted state) -----------------

_BASE = ("the quick brown fox jumps over the lazy dog while the band "
         "plays a slow waltz in the warm evening light of september")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_incremental_neardedup_drops_history_dups(spark):
    from rottnest_spark.ops.dedup import (
        incremental_neardedup,
        minhash_band_table,
    )

    hist = _docs(spark, [(1, _BASE), (2, "completely different text about "
                                        "database engines and vectorized "
                                        "execution plans for modern hardware")])
    hbands = minhash_band_table(hist, "doc_id", "text")
    batch = _docs(
        spark,
        [
            (10, _BASE),  # exact copy of doc 1
            (11, _BASE.replace("september", "october")),  # near-copy
            (12, "a fresh unrelated document mentioning spark shuffles "
                 "broadcast joins and adaptive query execution at scale"),
        ],
    )
    clean, cbands = incremental_neardedup(
        batch, hbands, "doc_id", "text", history_docs=hist
    )
    kept = sorted(r["doc_id"] for r in clean.collect())
    assert kept == [12]
    assert sorted({r["id"] for r in cbands.collect()}) == [12]


def test_incremental_neardedup_lsh_only_mode(spark):
    from rottnest_spark.ops.dedup import (
        incremental_neardedup,
        minhash_band_table,
    )

    hist = _docs(spark, [(1, _BASE)])
    hbands = minhash_band_table(hist, "doc_id", "text")
    batch = _docs(spark, [(10, _BASE), (11, "entirely new words about "
                                            "parquet footers zone maps and "
                                            "row group statistics pruning")])
    clean, _ = incremental_neardedup(
        batch, hbands, "doc_id", "text", history_docs=None
    )
    assert sorted(r["doc_id"] for r in clean.collect()) == [11]


def test_stream_ingest_neardedup(spark, tmp_path):
    import os

    from rottnest_spark.streaming.ingest import stream_ingest_neardedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    _docs(spark, [(1, _BASE), (2, "independent corpus entry on columnar "
                                  "storage formats and encodings for "
                                  "nested data structures")]).coalesce(
        1
    ).write.mode("append").parquet(src)
    s1 = stream_ingest_neardedup(
        spark, src, schema, "doc_id", "text", out, bands, ckpt
    )
    assert s1 == [{"in": 2, "kept": 2}]
    # second batch: one near-dup of history, one fresh
    _docs(spark, [(10, _BASE.replace("dog", "hound")),
                  (11, "novel content regarding watermark semantics and "
                       "late arriving data in streaming aggregations")]).coalesce(
        1
    ).write.mode("append").parquet(src)
    s2 = stream_ingest_neardedup(
        spark, src, schema, "doc_id", "text", out, bands, ckpt
    )
    assert s2 == [{"in": 2, "kept": 1}]
    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 11]
    # band state covers exactly the kept docs
    assert sorted({r["id"] for r in spark.read.parquet(bands).collect()}) == ids
