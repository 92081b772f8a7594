"""HLL distinct-count summary index: one mergeable Datasketches HLL sketch
per lake file, lifecycle-managed like every other index (incremental
anti-join builds, config guard, union compaction, vacuum).

The reference keeps per-file metadata aggregates next to its indexes
(python/rottnest/table.py file-level rollups; A2/A3 zone-map aggregation);
this extends that idea to distinct counts: after one build pass, "how many
distinct X across files F" is answered from sketch metadata — no data scan,
any file subset, estimates mergeable across entries and compactions.

Scale notes (100 TB):
- build is one map-side-combined groupBy(file): the shuffle carries one
  ~2^lgk-byte sketch per file, not rows;
- estimates are a metadata-scale aggregate over the sketch table (rows =
  files), so interactive even with millions of files;
- sketches union losslessly at the same lgK: estimate(union of per-file
  sketches) is deterministic, and compaction (plain table union) never
  touches data files.

This is a SUMMARY index: `search()` truthfully returns BRUTE_FORCE (it can
prune nothing), and row-predicate refine is a type error — use
`estimate_distinct` / `ParquetLake.distinct_estimate`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import BRUTE_FORCE, SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet


class StatsSketchIndex(SparkIndex):
    index_type = "hll_stats"
    sort_cols = ["file_path"]

    def __init__(self, lgk: int = 12):
        # lgK: sketch precision (error ~ 1.04/sqrt(2^lgK); 12 -> ~1.6%).
        # In the catalog config because sketches only union at equal lgK.
        self.lgk = lgk

    def config(self) -> dict:
        return {"lgk": self.lgk}

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        df = read_parquet(spark, files).select(
            provenance_file_col().alias("file_path"),
            F.col(column).alias("key"),
        )
        stats = df.groupBy("file_path").agg(
            F.lit(WHOLE_FILE).alias("row_group"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count("key").alias("n_nonnull"),
            F.hll_sketch_agg("key", F.lit(self.lgk)).alias("sketch"),
        )
        self._write_index(stats, out_path, sort_cols=self.sort_cols)

    def search(self, spark: SparkSession, index_paths: list[str], query):
        return BRUTE_FORCE  # a summary cannot prune row predicates

    def brute_force(
        self, df: DataFrame, column: str, query, k: int | None
    ) -> DataFrame:
        raise TypeError(
            "StatsSketchIndex is a summary index — it estimates distinct "
            "counts (estimate_distinct / ParquetLake.distinct_estimate) and "
            "has no row-predicate semantics"
        )

    # default compact() (union + file_path-sorted rewrite) is correct:
    # per-file rows are disjoint across entries, no re-aggregation needed

    @staticmethod
    def estimate_distinct(
        spark: SparkSession,
        index_paths: list[str],
        files: list[str] | None = None,
    ) -> dict:
        """Merge per-file sketches (optionally restricted to `files`) into
        one estimate. Returns {"estimate", "n_rows", "n_nonnull", "n_files"}."""
        df = scan_parquet(spark, *index_paths)
        if files is not None:
            df = df.filter(F.col("file_path").isin(list(files)))
        row = df.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nonnull").alias("n_nonnull"),
            F.count(F.lit(1)).alias("n_files"),
        ).collect()[0]
        return {
            "estimate": int(row["est"] or 0),
            "n_rows": int(row["n_rows"] or 0),
            "n_nonnull": int(row["n_nonnull"] or 0),
            "n_files": int(row["n_files"]),
        }


class QuantileSketchIndex(SparkIndex):
    """KLL quantile summary index: one mergeable Datasketches KLL sketch of
    a numeric column per lake file.

    After one build pass, "p50/p99 of X over files F" and "what fraction of
    rows in F have X ≤ v" (rank) are metadata-only queries for ANY file
    subset — the per-file sketches merge losslessly. Rank doubles as a
    range-predicate selectivity estimate, the summary-side complement of
    ExactIndex zone maps: zones answer "can this unit contain the range",
    KLL answers "how MUCH of it does" — which is what drives the choice
    between index probe and brute-force scan at 100 TB.

    Same summary-index contract as StatsSketchIndex: search() is truthfully
    BRUTE_FORCE, brute_force() is a type error.
    """

    index_type = "kll_quantiles"
    sort_cols = ["file_path"]

    def __init__(self, k: int = 200):
        # k: KLL accuracy knob (k=200 -> ~1.65% max rank error, ~99% conf)
        self.k = k

    def config(self) -> dict:
        return {"k": self.k}

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        df = read_parquet(spark, files).select(
            provenance_file_col().alias("file_path"),
            F.col(column).cast("double").alias("v"),
        )
        stats = df.groupBy("file_path").agg(
            F.lit(WHOLE_FILE).alias("row_group"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.kll_sketch_agg_double("v", F.lit(self.k)).alias("sketch"),
        )
        self._write_index(stats, out_path, sort_cols=self.sort_cols)

    def search(self, spark: SparkSession, index_paths: list[str], query):
        return BRUTE_FORCE

    def brute_force(self, df: DataFrame, column: str, query, k: int | None):
        raise TypeError(
            "QuantileSketchIndex is a summary index — use estimate_quantiles"
            " / estimate_rank / ParquetLake.quantile_estimate"
        )

    @staticmethod
    def _merged(spark: SparkSession, index_paths: list[str], files):
        df = scan_parquet(spark, *index_paths)
        if files is not None:
            df = df.filter(F.col("file_path").isin(list(files)))
        return df

    @staticmethod
    def estimate_quantiles(
        spark: SparkSession,
        index_paths: list[str],
        quantiles: list[float],
        files: list[str] | None = None,
    ) -> dict:
        """Merged-quantile estimates over (a subset of) covered files:
        {"quantiles": {q: value}, "n_rows", "min", "max", "n_files"}."""
        df = QuantileSketchIndex._merged(spark, index_paths, files)
        aggs = [
            F.kll_sketch_get_quantile_double(
                F.kll_merge_agg_double("sketch"), F.lit(float(q))
            ).alias(f"q{i}")
            for i, q in enumerate(quantiles)
        ]
        row = df.agg(
            *aggs,
            F.sum("n_rows").alias("n_rows"),
            F.min("min_v").alias("min"),
            F.max("max_v").alias("max"),
            F.count(F.lit(1)).alias("n_files"),
        ).collect()[0]
        return {
            "quantiles": {
                q: row[f"q{i}"] for i, q in enumerate(quantiles)
            },
            "n_rows": int(row["n_rows"] or 0),
            "min": row["min"],
            "max": row["max"],
            "n_files": int(row["n_files"]),
        }

    @staticmethod
    def estimate_rank(
        spark: SparkSession,
        index_paths: list[str],
        value: float,
        files: list[str] | None = None,
    ) -> float:
        """Estimated fraction of rows with column ≤ value — the
        selectivity of a `col <= v` predicate over the chosen files."""
        df = QuantileSketchIndex._merged(spark, index_paths, files)
        row = df.agg(
            F.kll_sketch_get_rank_double(
                F.kll_merge_agg_double("sketch"), F.lit(float(value))
            ).alias("r")
        ).collect()[0]
        return float(row["r"] or 0.0)


class ThetaSketchIndex(SparkIndex):
    """Theta distinct-key summary index: like the HLL stats index but the
    sketches support SET OPERATIONS — union, intersection, difference —
    across arbitrary file subsets.

    The 100 TB use case is dedup/ingest planning: before running exact or
    MinHash dedup between a new batch and the existing lake, estimate
    |keys(new) ∩ keys(old)| from per-file sketches alone (metadata-scale).
    An overlap of ~0 means the expensive dedup join can be skipped or
    scoped to the overlapping files only.
    """

    index_type = "theta_keys"
    sort_cols = ["file_path"]

    def __init__(self, lgk: int = 12):
        # lgNomEntries: sketch precision; sketches only combine at equal lgK
        self.lgk = lgk

    def config(self) -> dict:
        return {"lgk": self.lgk}

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        df = read_parquet(spark, files).select(
            provenance_file_col().alias("file_path"),
            F.col(column).cast("string").alias("key"),
        )
        stats = df.groupBy("file_path").agg(
            F.lit(WHOLE_FILE).alias("row_group"),
            F.count(F.lit(1)).alias("n_rows"),
            F.theta_sketch_agg("key", F.lit(self.lgk)).alias("sketch"),
        )
        self._write_index(stats, out_path, sort_cols=self.sort_cols)

    def search(self, spark: SparkSession, index_paths: list[str], query):
        return BRUTE_FORCE

    def brute_force(self, df: DataFrame, column: str, query, k: int | None):
        raise TypeError(
            "ThetaSketchIndex is a summary index — use estimate_overlap /"
            " estimate_distinct"
        )

    def _union_sketch(self, df: DataFrame):
        return F.theta_union_agg("sketch", F.lit(self.lgk))

    def estimate_distinct(
        self,
        spark: SparkSession,
        index_paths: list[str],
        files: list[str] | None = None,
    ) -> int:
        df = scan_parquet(spark, *index_paths)
        if files is not None:
            df = df.filter(F.col("file_path").isin(list(files)))
        row = df.agg(
            F.theta_sketch_estimate(self._union_sketch(df)).alias("est")
        ).collect()[0]
        return int(row["est"] or 0)

    def estimate_overlap(
        self,
        spark: SparkSession,
        index_paths: list[str],
        files_a: list[str],
        files_b: list[str],
    ) -> dict:
        """|keys(A)|, |keys(B)|, and estimated |keys(A) ∩ keys(B)| — one
        metadata-scale job: per-side theta unions, then an intersection.
        A file listed on both sides counts toward side A (disjoint sides
        are the meaningful call — new batch vs existing lake)."""
        if not files_a or not files_b:
            return {"a": 0, "b": 0, "overlap": 0}
        df = scan_parquet(spark, *index_paths)
        side = F.when(
            F.col("file_path").isin(list(files_a)), F.lit("a")
        ).otherwise(F.lit("b"))
        per_side = (
            df.filter(F.col("file_path").isin(list(files_a) + list(files_b)))
            .groupBy(side.alias("side"))
            .agg(self._union_sketch(df).alias("u"))
        )
        row = per_side.agg(
            F.theta_sketch_estimate(
                F.theta_intersection_agg("u")
            ).alias("overlap"),
            F.sum(
                F.when(
                    F.col("side") == "a", F.theta_sketch_estimate("u")
                ).otherwise(F.lit(0))
            ).alias("a"),
            F.sum(
                F.when(
                    F.col("side") == "b", F.theta_sketch_estimate("u")
                ).otherwise(F.lit(0))
            ).alias("b"),
        ).collect()[0]
        return {
            "a": int(row["a"] or 0),
            "b": int(row["b"] or 0),
            "overlap": int(row["overlap"] or 0),
        }
