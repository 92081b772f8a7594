"""Suffix-array substring index — sorted truncated suffixes per unit.

This is the T5 operator (SURVEY §2): the reference sorts all suffixes of the
concatenated tokenized corpus to build its FM-index/BWT substring structure
(src/lava/substring/build.rs:307-547 — the suffix-array construction feeding
the BWT). The Spark-native analog keeps the defining property of a suffix
array — *every occurrence of any needle is the prefix of exactly one suffix,
and the matching suffixes form one contiguous sorted range* — while storing
the structure as a distributed sorted Parquet table instead of an in-memory
array:

    index table: (suffix, file_path, row_group)
      suffix = the normalized text's suffix at every character position,
               truncated to `prefix_len` chars; distinct per unit;
      globally range-partitioned and sorted by `suffix`.

Probe for needle q (|q| <= prefix_len): candidates are the units owning a
suffix with prefix q — `startswith(suffix, q)` is a contiguous range of the
sort order, so Spark's Parquet StringStartsWith pushdown prunes the probe to
the few index row groups whose [min,max] straddle q: the distributed analog
of the suffix array's two binary searches. Needles longer than prefix_len
probe with their prefix_len-prefix (sound: the suffix at a true match starts
with that prefix) and the exact containment refine restores full-needle
semantics.

vs the n-gram SubstringIndex (same query contract, different trade):
- no minimum needle length (an n-gram index cannot prune needles shorter
  than `gram`; the suffix table prunes from 1 char up);
- single-range probe with positional exactness for needles <= prefix_len —
  no gram-intersection false positives (units where all of q's grams occur
  but never adjacently are NOT candidates here);
- build emits one row per character position before the per-unit distinct
  (same asymptotics as the 1-char-stride gram explode), but rows are
  prefix_len wide, so the index is larger — the classic suffix-array
  space-for-probe-precision trade.

Why this scales to 100 TB: build is one explode → per-unit distinct →
range-partition-by-suffix shuffle (map-side partial dedup bounds shuffle
volume by |distinct suffixes| x |units|); merge/compact is the default
union + re-sort (Spark's range shuffle IS the suffix-array merge,
src/lava/merge.rs:17-205); a probe reads only min/max-intersecting index
row groups and returns unit-scale candidates.

Binary payloads follow the substring index's hex contract: BinaryType
columns are indexed as uppercase-hex suffixes taken at even (byte-aligned)
offsets, a bytes needle hex-encodes the same way (its hex is an even-length
string, so byte-prefix == hex-prefix), and the refine compares the raw
binary column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import BRUTE_FORCE, SparkIndex
from rottnest_spark.sources.reader import read_parquet, scan_parquet
from rottnest_spark.indices.substring import provenance_file_col


class SuffixArrayIndex(SparkIndex):
    """Sorted-suffix substring index (suffix-array analog). Same query
    contract as SubstringIndex — case-insensitive literal containment,
    candidates only (SURVEY §0 invariant) — served by a prefix-range scan
    of the sorted suffix table instead of a gram intersection."""

    index_type = "suffix"
    sort_cols = ["suffix"]
    unit_meta = True

    def __init__(
        self,
        prefix_len: int = 16,
        granularity: str = "file",
        unselective_frac: float | None = 1.0,
        skip_chars: str | None = None,
    ):
        assert granularity in ("file", "row_group")
        assert prefix_len >= 1
        self.prefix_len = prefix_len
        self.granularity = granularity
        # search-time escape (not a build knob): when the probe range covers
        # >= frac of all indexed units the index provably cannot prune —
        # fall back to BRUTE_FORCE instead of paying probe + refine-join.
        self.unselective_frac = unselective_frac
        self.skip_chars = skip_chars

    def config(self) -> dict:
        return {
            "prefix_len": self.prefix_len,
            "granularity": self.granularity,
            "skip_chars": self.skip_chars,
        }

    #: set by build() from the column dtype; probes detect bytes queries
    #: independently, so a fresh index object still probes correctly
    _is_binary = False

    def _norm_col(self, col):
        """lower + skip-char strip — identical at build, probe and refine.
        Binary columns hex-encode instead (normalization is text-only)."""
        if self._is_binary:
            return F.hex(col)
        out = F.lower(col)
        if self.skip_chars:
            import re as _re

            out = F.regexp_replace(out, "[" + _re.escape(self.skip_chars) + "]", "")
        return out

    def _norm_str(self, s: str) -> str:
        s = s.lower()
        if self.skip_chars:
            for ch in self.skip_chars:
                s = s.replace(ch, "")
        return s

    def _probe_prefix(self, query) -> str | None:
        """The sort-key prefix a match's suffix MUST start with, or None
        when the query normalizes to empty (nothing to prune on)."""
        if isinstance(query, (bytes, bytearray)):
            q = bytes(query).hex().upper()
            return q[: 2 * self.prefix_len] or None
        q = self._norm_str(query)
        return q[: self.prefix_len] or None

    # -- build ----------------------------------------------------------------

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        from pyspark.sql.types import BinaryType

        probe_df = read_parquet(spark, files[:1])
        self._is_binary = isinstance(probe_df.schema[column].dataType, BinaryType)
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            src = rows_with_rg_provenance(spark, files, column)
            rows = src.select(
                "file_path",
                "row_group",
                self._norm_col(F.col(column)).alias("__norm__"),
            )
        else:
            df = read_parquet(spark, files)
            rows = df.select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                self._norm_col(F.col(column)).alias("__norm__"),
            )
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        # one suffix per character position (stride 2 / double width on hexed
        # binary so suffixes stay byte-aligned); substring() clamps at the end
        # of the string, so trailing suffixes shorter than prefix_len are kept
        # — that is what lets the index prune needles of ANY length, including
        # matches at the very end of a value.
        width, step = self.prefix_len, 1
        if self._is_binary:
            width, step = 2 * self.prefix_len, 2
        index_df = (
            rows.select(
                "file_path",
                "row_group",
                "__norm__",
                F.explode(
                    F.expr(
                        "CASE WHEN length(__norm__) >= 1 THEN "
                        f"sequence(1, length(__norm__), {step}) "
                        "ELSE array() END"
                    )
                ).alias("p"),
            )
            .select(
                F.expr(f"substring(__norm__, p, {width})").alias("suffix"),
                "file_path",
                "row_group",
            )
            # ONE exchange serves both the dedup and the sorted layout
            # (guide §2.4): RangePartitioning(suffix) co-locates equal
            # (suffix, file, rg) triples, so the dedup aggregate runs
            # partition-local with no second exchange — `.distinct()`
            # before `_write_index`'s range exchange shuffled the full
            # suffix payload TWICE. Unlike the gram indexes (substring:
            # heavy gram repetition makes the pre-shuffle partial dedup
            # the bigger lever), prefix_len-suffixes of text are
            # near-unique, so map-side dedup bought ~nothing here.
            .repartitionByRange("suffix")
            .dropDuplicates(["suffix", "file_path", "row_group"])
        )
        self._write_index(
            index_df, out_path, sort_cols=["suffix"], unit_meta=True,
            pre_clustered=True,
        )

    # -- search ---------------------------------------------------------------

    def search(self, spark: SparkSession, index_paths: list[str], query):
        """Single prefix-range probe — the distributed analog of the suffix
        array's binary-search pair. `startswith` on the sort key is pushed
        to Parquet (StringStartsWith on row-group min/max), so only the
        index row groups overlapping [q, next(q)) are read; the per-unit
        distinct output is unit-scale."""
        probe = self._probe_prefix(query)
        if probe is None:
            return BRUTE_FORCE  # empty after normalization — cannot prune
        idx = scan_parquet(spark, *index_paths)
        cands = (
            idx.filter(F.col("suffix").startswith(F.lit(probe)))
            .select("file_path", "row_group")
            .distinct()
        )
        if self.unselective_frac is not None:
            n_units = self.read_unit_meta(spark, index_paths)
            # one count aggregate over the (already range-pruned) probe —
            # the same job shape as the gram index's df pass
            n_hit = cands.count()
            if n_units and n_hit >= self.unselective_frac * n_units:
                return BRUTE_FORCE
        return cands

    def search_many(
        self, spark: SparkSession, index_paths: list[str], queries: list
    ) -> list:
        """Batched probe: N needles share ONE range-pruned scan of the
        suffix table (the OR of N prefix ranges pushes down as one scan
        filter); per-needle semantics identical to search()."""
        probes = {q: self._probe_prefix(q) for q in queries}
        out: dict = {q: BRUTE_FORCE for q, p in probes.items() if p is None}
        todo = {q: p for q, p in probes.items() if p is not None}
        if not todo:
            return [out[q] for q in queries]
        idx = scan_parquet(spark, *index_paths)
        pred = None
        for p in todo.values():
            c = F.col("suffix").startswith(F.lit(p))
            pred = c if pred is None else (pred | c)
        # tag each matching suffix row with every needle it serves, then
        # one distinct over (needle, unit) — metadata-scale output
        items = list(todo.items())
        tags = F.array(
            *[
                F.when(
                    F.col("suffix").startswith(F.lit(p)), F.lit(str(i))
                )
                for i, (_q, p) in enumerate(items)
            ]
        )
        cands = (
            idx.filter(pred)
            .select(
                F.explode(
                    F.filter(tags, lambda x: x.isNotNull())
                ).alias("__q__"),
                "file_path",
                "row_group",
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        counts = {
            r["__q__"]: r["n"]
            for r in cands.groupBy("__q__")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_units = (
            self.read_unit_meta(spark, index_paths)
            if self.unselective_frac is not None
            else None
        )
        empty = spark.createDataFrame([], "file_path string, row_group int")
        for i, (q, _p) in enumerate(items):
            n_hit = counts.get(str(i), 0)
            if (
                self.unselective_frac is not None
                and n_units
                and n_hit >= self.unselective_frac * n_units
            ):
                out[q] = BRUTE_FORCE
            elif n_hit == 0:
                out[q] = empty
            else:
                out[q] = cands.filter(F.col("__q__") == str(i)).select(
                    "file_path", "row_group"
                )
        return [out[q] for q in queries]

    # -- exact refine (F1 contract, indices/substring_index.py:19-21) ----------

    def predicate(self, column: str, query):
        if isinstance(query, (bytes, bytearray)):
            return F.contains(F.col(column), F.lit(bytes(query)))
        return F.contains(
            self._norm_col(F.col(column)), F.lit(self._norm_str(query))
        )

    def brute_force(
        self, df: DataFrame, column: str, query, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out
