"""Fuzzy (edit-distance ≤ 1) match index — SymSpell-style deletion
neighborhoods, Spark-first.

Semantics: a row matches when levenshtein(lower(col), lower(query)) ≤ 1 —
typo-tolerant point lookup (one substitution, insertion, or deletion).
This is a beyond-the-reference capability in the same plan shape as the
reference's exact/uuid indexes: index prunes units, exact refine
guarantees the predicate (SURVEY §0 invariant).

Pruning guarantee (the SymSpell d=1 property): two strings within edit
distance 1 share at least one member of each other's deletion
neighborhood N(s) = {s} ∪ {s minus one char}:
  - substitution at i: both sides' delete-at-i agree;
  - insertion into the query: deleting the inserted char yields the key;
  - deletion from the query: the key's delete-at-i yields the query.
So probing with N(query) against an index of N(key) can never lose a
match; false positives (e.g. transposition-distance-2 pairs that share a
variant) are removed by the levenshtein refine.

Scale: the index is |key| + 1 variants per row unit — one explode +
distinct shuffle, same build shape as the substring gram table, sorted by
variant for Parquet min/max probe pruning. The probe is an IN-list of
|query| + 1 variants. Costs grow linearly with key LENGTH, so this is an
identifier-scale index (names, ids, SKUs), not a document index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet


def deletion_variants(s: str) -> list[str]:
    """N(s): the string plus every single-character deletion, distinct."""
    s = s.lower()
    return list(dict.fromkeys([s] + [s[:i] + s[i + 1 :] for i in range(len(s))]))


class FuzzyIndex(SparkIndex):
    index_type = "fuzzy"
    sort_cols = ["variant"]
    unit_meta = True

    def __init__(self, granularity: str = "file"):
        assert granularity in ("file", "row_group")
        self.granularity = granularity

    def config(self) -> dict:
        return {"granularity": self.granularity, "max_distance": 1}

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            rows = rows_with_rg_provenance(spark, files, column).select(
                "file_path", "row_group", F.lower(F.col(column)).alias("__k__")
            )
        else:
            rows = read_parquet(spark, files).select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                F.lower(F.col(column)).alias("__k__"),
            )
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        # flat-position explode (codegen), same discipline as the gram
        # build: positions 0..len, position 0 = the key itself, position
        # p>0 = delete char p (1-based)
        index_df = (
            rows.filter(F.col("__k__").isNotNull())
            .select(
                "file_path",
                "row_group",
                "__k__",
                F.explode(
                    F.expr("sequence(0, length(__k__))")
                ).alias("p"),
            )
            .select(
                F.when(F.col("p") == 0, F.col("__k__"))
                .otherwise(
                    F.expr(
                        "concat(substring(__k__, 1, p - 1), "
                        "substring(__k__, p + 1, length(__k__)))"
                    )
                )
                .alias("variant"),
                "file_path",
                "row_group",
            )
            .distinct()
        )
        self._write_index(
            index_df, out_path, sort_cols=["variant"], unit_meta=True
        )

    def search(self, spark: SparkSession, index_paths: list[str], query: str):
        """Candidates = units containing ANY variant shared with the query
        neighborhood (union semantics — distance-1 matches need only one
        shared variant)."""
        variants = deletion_variants(query)
        idx = scan_parquet(spark, *index_paths)
        return (
            idx.filter(F.col("variant").isin(variants))
            .select("file_path", "row_group")
            .distinct()
        )

    def predicate(self, column: str, query: str):
        return (
            F.levenshtein(F.lower(F.col(column)), F.lit(query.lower())) <= 1
        )

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out


def _search_many(self, spark, index_paths, queries):
    """Batched typo-tolerant lookups: ONE variant-table scan serves every
    query via the union IN-list; per-query candidate sets filter the
    materialized (variant, unit) rows — the same amortization as the
    other index types' search_many."""
    per_q = {q: deletion_variants(q) for q in queries}
    union = sorted({v for vs in per_q.values() for v in vs})
    idx = scan_parquet(spark, *index_paths)
    hits = (
        idx.filter(F.col("variant").isin(union))
        .select("variant", "file_path", "row_group")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return [
        hits.filter(F.col("variant").isin(per_q[q]))
        .select("file_path", "row_group")
        .distinct()
        for q in queries
    ]


FuzzyIndex.search_many = _search_many
del _search_many
