"""Vamana (DiskANN-style) graph ANN index — I17.

The reference ships a Vamana implementation (src/lava/vector/vamana.rs) but
never wires it into an index lifecycle; this module wires the algorithm
Spark-first. Public-knowledge algorithm (Subramanya et al., "DiskANN:
Fast Accurate Billion-point Nearest Neighbor Search on a Single Node",
NeurIPS 2019): greedy beam search over a bounded-degree proximity graph +
RobustPrune(α) edge selection.

A single global graph is the wrong shape for a distributed engine — graph
construction is iterative over shared adjacency (lock-step mutation), and
beam search is pointer-chasing over the whole dataset. The Spark-native
decomposition:

- **shard by IVF coarse clusters** (sample-trained Lloyd, the same bounded
  driver training as VectorIndex): each cluster is one build task and one
  search task, sized by `rows_per_cluster`;
- **build**: applyInPandas over cluster groups — every task constructs its
  cluster's Vamana graph in numpy (medoid start, randomized insertion
  order, greedy-search-then-RobustPrune, reverse edges with degree cap).
  Embarrassingly parallel, no cross-task edges;
- **index tables**: `centroids/` (cluster routing) + `graph/` rows
  (cluster_id, node ordinal, row address, fp32 vector, neighbor ordinals,
  medoid flag), sorted by cluster_id so a probe reads only the probed
  clusters' Parquet row groups (DiskANN's sector-aligned node layout,
  re-expressed as columnar locality);
- **search**: route to `nprobes` nearest clusters, beam-search each probed
  cluster's graph inside one applyInPandas task (top `refine` rows out per
  cluster — bounded output), then exact fp32 rerank of ONLY the fetched
  row addresses (the same T2 row-precision stage as the PQ path).

Like IVF/PQ, the result is approximate (measured by recall, reference
msmarco.py:49-60); the exact rerank pins precision of whatever the graph
recalls. Cross-cluster misses are bounded by the same nprobes routing as
IVF — the graph replaces the per-cluster linear scan with O(L·R) hops,
which is the 100 TB win: probe cost is independent of cluster size.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rottnest_spark.indices.base import SparkIndex
from rottnest_spark.indices.vector import (
    VectorIndex,
    _lloyd_gemm,
    ensure_float_vectors,
    provenance_file_col,
)
from rottnest_spark.sources.reader import read_parquet, scan_parquet

GRAPH_SCHEMA = (
    "cluster_id int, node_id int, file_path string, row_group int, pos int, "
    "vec array<float>, neighbors array<int>, medoid boolean"
)


def _make_kernels():
    """(build_graph, beam_search) as SELF-CONTAINED closures for executor
    shipping — module-level functions pickle by reference (workers would
    need this package importable, untrue for driver-contract sessions);
    closures from this factory pickle by value, stdlib+numpy only."""

    def greedy_visit(dq, adj, medoid, L):
        """Best-first search (the paper's GreedySearch): expand the
        closest unvisited candidate, stop when the closest candidate is
        worse than the L-th best visited. Returns the visited set — the
        prune pool at build time, the result pool at query time."""
        import heapq

        visited = set()
        cand = [(float(dq[medoid]), medoid)]
        best = []  # max-heap (negated) of the L best visited
        while cand:
            d, p = heapq.heappop(cand)
            if p in visited:
                continue
            if len(best) >= L and d > -best[0][0]:
                break
            visited.add(p)
            heapq.heappush(best, (-d, p))
            if len(best) > L:
                heapq.heappop(best)
            for j in adj[p]:
                if j not in visited:
                    heapq.heappush(cand, (float(dq[j]), j))
        return visited

    def build_graph(x, R, L, alpha, seed):
        """Vamana construction over x (n × d float64) → (adjacency,
        medoid). One insertion pass at the final α (the paper's two-pass
        refinement trades build time for marginal recall; the exact
        rerank downstream pins precision either way)."""
        import numpy as np

        n = len(x)
        rng = np.random.default_rng(seed)
        medoid = int(((x - x.mean(axis=0)) ** 2).sum(axis=1).argmin())
        if n == 1:
            return [[]], medoid
        # random R-regular-ish init (paper §2: start from a random graph)
        adj = []
        for i in range(n):
            cand = rng.choice(n, size=min(R, n - 1) + 1, replace=False)
            adj.append(set(int(c) for c in cand if c != i))

        norms = (x * x).sum(axis=1)

        def dists_to(q):
            return norms - 2.0 * (x @ q) + (q * q).sum()

        def robust_prune(i, pool, di_all):
            """RobustPrune(i, pool, α, R): keep the closest candidate,
            drop every candidate α-dominated by a kept one. Pairwise
            distances computed within the pool only (vectorized)."""
            arr = np.fromiter((p for p in pool if p != i), dtype=np.int64)
            if len(arr) == 0:
                return []
            di = di_all[arr]
            order = np.argsort(di, kind="stable")
            arr, di = arr[order], di[order]
            alive = np.ones(len(arr), dtype=bool)
            kept = []
            for idx in range(len(arr)):
                if not alive[idx]:
                    continue
                p = int(arr[idx])
                kept.append(p)
                if len(kept) >= R:
                    break
                dp = ((x[arr] - x[p]) ** 2).sum(axis=1)
                alive &= alpha * dp > di
            return kept

        for i in rng.permutation(n):
            i = int(i)
            dq = dists_to(x[i])
            visited = greedy_visit(dq, adj, medoid, L)
            adj[i] = set(robust_prune(i, visited | adj[i], dq))
            for j in adj[i]:
                adj[j].add(i)
                if len(adj[j]) > R:
                    adj[j] = set(robust_prune(j, adj[j], dists_to(x[j])))
        return [sorted(a) for a in adj], medoid

    def beam_search(x, adj, medoid, q, L):
        """Query-time search; (indices, dists) of the L best visited
        nodes, ascending by L2 distance."""
        dq = ((x - q) ** 2).sum(axis=1)
        visited = greedy_visit(dq, adj, medoid, L)
        out = sorted(visited, key=lambda j: dq[j])[:L]
        return out, [float(dq[j]) for j in out]

    return build_graph, beam_search


#: driver-side aliases for unit tests
_vamana_build_arrays, _beam_search_arrays = _make_kernels()


class VamanaIndex(VectorIndex):
    """Graph ANN over IVF-sharded clusters. Same lake-level contract as
    the PQ path: `search_pq` returns row addresses for the exact fp32
    rerank (knn_topk's row-precision branch)."""

    index_type = "vamana"
    has_postings = False  # graph table instead; knn_topk_many loops
    # no postings table to share: each query's graph probe is its own scan
    search_many = SparkIndex.search_many

    def __init__(
        self,
        rows_per_cluster: int = 1024,
        nprobes: int = 4,
        R: int = 32,
        L: int = 64,
        alpha: float = 1.2,
        refine: int = 64,
        seed: int = 42,
        kmeans_sample_fraction: float = 1.0,
    ):
        super().__init__(
            rows_per_centroid=rows_per_cluster,
            nprobes=nprobes,
            seed=seed,
            kmeans_sample_fraction=kmeans_sample_fraction,
            pq_m=0,
            refine=refine,
        )
        self.rows_per_cluster = rows_per_cluster
        self.R = R
        self.L = L
        self.alpha = alpha

    def config(self) -> dict:
        return {
            "rows_per_cluster": self.rows_per_cluster,
            "nprobes": self.nprobes,
            "R": self.R,
            "L": self.L,
            "alpha": self.alpha,
            "refine": self.refine,
            "seed": self.seed,
            "metric": "l2",
        }

    #: knn_topk routes row-precision indexes through search_pq + rerank
    @property
    def row_precision(self) -> bool:
        return True

    # -- build ----------------------------------------------------------------

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        import numpy as np

        from rottnest_spark.core.layout import (
            file_row_counts,
            rows_with_rg_provenance,
        )

        rows = ensure_float_vectors(
            rows_with_rg_provenance(spark, files, column, with_pos=True), column
        ).select(
            "file_path", "row_group", "pos", F.col(column).alias("vec")
        )
        # footer row counts — no count job, no full-vector persist
        # (the sample and assignment passes each stream their scan)
        n = sum(file_row_counts(spark, files).values())
        k = max(1, min(n // self.rows_per_cluster + 1, 4096, n))
        target = k * self.TRAIN_POINTS_PER_CENTROID
        frac = min(
            self.kmeans_sample_fraction,
            min(1.0, (target * 1.2) / max(n, 1)),
        )
        from rottnest_spark.indices.vector import _sample_pred

        # training needs VECTORS only — read them through the native
        # columnar reader (JVM-vectorized scan + codegen hash filter), not
        # the pyarrow provenance path the graph pass requires; on the
        # fixture this is the difference between a ~6 s and a sub-second
        # sample job, and at scale it keeps training off the Python path
        native = ensure_float_vectors(
            read_parquet(spark, files, columns=[column]), column
        ).select(F.col(column).alias("vec"))
        train = (
            native
            if frac >= 1.0
            else native.filter(_sample_pred("vec", frac, self.seed))
        )
        x = np.array(
            [r["vec"] for r in train.collect()],
            dtype=np.float64,
        )
        if len(x) < k:
            x = np.array(
                [r["vec"] for r in native.limit(k).collect()],
                dtype=np.float64,
            )
        cents = _lloyd_gemm(x, k, iters=10, seed=self.seed)
        from rottnest_spark.core.smalldf import local_df

        # single-slice local relation (core/smalldf.py): the coalesce(1)
        # write of a default-sliced local df paid one Python round trip
        # per slice
        local_df(
            spark,
            [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
            "centroid_id int, centroid array<double>",
            slices=1,
        ).write.mode("overwrite").parquet(f"{out_path}/centroids")

        bc = spark.sparkContext.broadcast(cents)
        R, L, alpha, seed = self.R, self.L, self.alpha, self.seed
        build_graph, _ = _make_kernels()  # by-value closure pair

        def assign(batches):
            import numpy as np
            import pandas as pd

            cc = bc.value
            ccn = (cc * cc).sum(axis=1)
            for pdf in batches:
                v = np.array(pdf["vec"].tolist(), dtype=np.float64)
                pdf = pdf.copy()
                pdf["cluster_id"] = (
                    (ccn[None, :] - 2.0 * (v @ cc.T)).argmin(axis=1).astype("int32")
                )
                yield pdf

        assigned = rows.mapInPandas(
            assign,
            "file_path string, row_group int, pos int, vec array<float>, "
            "cluster_id int",
        )

        def graph_per_cluster(pdf):
            import numpy as np
            import pandas as pd

            cid = int(pdf["cluster_id"].iloc[0])
            x = np.array(pdf["vec"].tolist(), dtype=np.float64)
            adj, medoid = build_graph(x, R, L, alpha, seed + cid)
            return pd.DataFrame(
                {
                    "cluster_id": cid,
                    "node_id": range(len(pdf)),
                    "file_path": pdf["file_path"].values,
                    "row_group": pdf["row_group"].values,
                    "pos": pdf["pos"].values,
                    "vec": pdf["vec"].values,
                    "neighbors": [list(map(int, a)) for a in adj],
                    "medoid": [i == medoid for i in range(len(pdf))],
                }
            )

        # ONE payload shuffle, not two (guide §8 — move heavy rows once):
        # the graph table's sorted layout wants RANGE partitioning by
        # cluster_id, and the graph stage's groupBy wants CLUSTERED
        # distribution on the same key — RangePartitioning satisfies
        # ClusteredDistribution, so a single explicit repartitionByRange
        # BEFORE the groupBy serves both, and the write needs only a
        # partition-local sort (files stay range-disjoint in cluster_id —
        # the same min/max probe-pruning property as _write_index's own
        # range exchange, now without re-shuffling the vectors a second
        # time). The EXPLICIT partition count also keeps AQE's
        # small-partition coalescing from serializing the Python-CPU-bound
        # graph kernels into one task (measured: 6-8.6 s serial vs ~0.7 s
        # parallel). `assigned` is checkpointed first so the range
        # exchange's boundary-sampling pass reads materialized rows
        # instead of re-running the scan→assign pipeline.
        d = cents.shape[1]
        n_parts = max(
            spark.sparkContext.defaultParallelism,
            int(n * d * 16 / (64 << 20)) + 1,
        )
        assigned = assigned.localCheckpoint(eager=True)
        graph = (
            assigned.repartitionByRange(n_parts, "cluster_id")
            .groupBy("cluster_id")
            .applyInPandas(graph_per_cluster, GRAPH_SCHEMA)
            .sortWithinPartitions("cluster_id")
        )
        self._write_index(graph, f"{out_path}/graph", sort_cols=None)

    # -- search ---------------------------------------------------------------

    def search_pq(
        self, spark: SparkSession, index_paths: list[str], query_vec
    ) -> list[tuple[str, int, int]]:
        """Stage 1-2: route to nprobes clusters, beam-search each probed
        cluster's graph in its own task, global top-`refine` row addresses
        out (stage 3 — the exact fp32 rerank — is knn_topk's)."""
        import numpy as np

        probes = self.nearest_centroids(spark, index_paths, list(query_vec))
        if not probes:
            return []
        q = np.array(list(query_vec), dtype=np.float64)
        by_path: dict[str, list[int]] = {}
        for p, cid in probes:
            by_path.setdefault(p, []).append(cid)

        sc = spark.sparkContext
        bq = sc.broadcast(q)
        refine = self.refine
        _, beam = _make_kernels()  # by-value closure pair

        def search_cluster(pdf):
            import numpy as np
            import pandas as pd

            x = np.array(pdf["vec"].tolist(), dtype=np.float64)
            order = pdf["node_id"].values
            # rows arrive in arbitrary order; rebuild ordinal addressing
            ix = np.argsort(order)
            x = x[ix]
            adj = [list(pdf["neighbors"].values[i]) for i in ix]
            med_flags = pdf["medoid"].values[ix]
            medoid = int(np.flatnonzero(med_flags)[0]) if med_flags.any() else 0
            idxs, dists = beam(x, adj, medoid, bq.value, refine)
            fp = pdf["file_path"].values[ix]
            rg = pdf["row_group"].values[ix]
            po = pdf["pos"].values[ix]
            return pd.DataFrame(
                {
                    "file_path": fp[idxs],
                    "row_group": rg[idxs],
                    "pos": po[idxs],
                    "gdist": dists,
                }
            )

        # ONE scan of every probed entry's graph table (job count per query
        # independent of entry count — round-4 verdict item 3). Cluster ids
        # are per-entry, so the group key is (entry, cluster_id) and probe
        # membership is checked per entry; the coarse isin prunes row
        # groups on the cluster_id-sorted tables.
        import re

        cids_by = {
            re.sub("^file:/+", "/", p): set(map(int, cids))
            for p, cids in by_path.items()
        }
        bc_cids = sc.broadcast(cids_by)
        all_cids = sorted({cid for cids in by_path.values() for cid in cids})

        def search_cluster_entry(keys, pdf):
            import pandas as pd

            entry, cid = keys[0], int(keys[1])
            if cid not in bc_cids.value.get(entry, ()):  # other entry's id
                return pd.DataFrame(
                    {
                        "file_path": pd.Series(dtype="object"),
                        "row_group": pd.Series(dtype="int32"),
                        "pos": pd.Series(dtype="int32"),
                        "gdist": pd.Series(dtype="float64"),
                    }
                )
            return search_cluster(pdf)

        top = (
            scan_parquet(spark, *[f"{p}/graph" for p in sorted(by_path)])
            .filter(F.col("cluster_id").isin(all_cids))
            .withColumn("__entry", self._entry_of_col())
            .groupBy("__entry", "cluster_id")
            .applyInPandas(
                search_cluster_entry,
                "file_path string, row_group int, pos int, gdist double",
            )
            .orderBy(F.asc("gdist"))
            .limit(refine)
            .collect()
        )
        best = sorted(
            (r["gdist"], r["file_path"], r["row_group"], r["pos"]) for r in top
        )
        return [(f, rg, pos) for _, f, rg, pos in best[: self.refine]]

    def search(self, spark: SparkSession, index_paths: list[str], query_vec):
        """Unit-granularity candidates (for callers that want units, not
        rows): the files/row-groups owning the probed clusters' nodes."""
        probes = self.nearest_centroids(spark, index_paths, list(query_vec))
        if not probes:
            return spark.createDataFrame([], "file_path string, row_group int")
        import re

        by_path: dict[str, list[int]] = {}
        for p, cid in probes:
            by_path.setdefault(p, []).append(cid)
        # one multi-entry scan + broadcast semi-join on (entry, cluster_id)
        # — same shape as VectorIndex.search
        all_cids = sorted({cid for cids in by_path.values() for cid in cids})
        from rottnest_spark.core.smalldf import local_df

        pairs = local_df(
            spark,
            [
                (re.sub("^file:/+", "/", p), int(cid))
                for p, cids in by_path.items()
                for cid in cids
            ],
            "__entry string, cluster_id int",
            slices=1,
        )
        return (
            scan_parquet(spark, *[f"{p}/graph" for p in sorted(by_path)])
            .filter(F.col("cluster_id").isin(all_cids))
            .withColumn("__entry", self._entry_of_col())
            .join(F.broadcast(pairs), ["__entry", "cluster_id"], "left_semi")
            .select("file_path", "row_group")
            .distinct()
        )

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        """Offset-renumber cluster ids and concat (the VectorIndex merge
        discipline applied to the graph table; node ids are cluster-local,
        so they merge untouched)."""
        offset = 0
        cent_parts, graph_parts = [], []
        for p in index_paths:
            c = scan_parquet(spark, f"{p}/centroids")
            g = scan_parquet(spark, f"{p}/graph")
            cent_parts.append(
                c.select(
                    (F.col("centroid_id") + offset).alias("centroid_id"),
                    "centroid",
                )
            )
            graph_parts.append(
                g.withColumn("cluster_id", (F.col("cluster_id") + offset).cast("int"))
            )
            offset += c.count()
        cents = cent_parts[0]
        for x in cent_parts[1:]:
            cents = cents.unionByName(x)
        cents.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/centroids")
        graph = graph_parts[0]
        for x in graph_parts[1:]:
            graph = graph.unionByName(x)
        self._write_index(graph, f"{out_path}/graph", sort_cols=["cluster_id"])
