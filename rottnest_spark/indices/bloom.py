"""Bloom-filter membership index: one mergeable sparse bitmap per lake
unit (file or row group), probed for exact-key pruning.

Where the reference's trie index stores every distinct key
(src/lava/uuid/uuid.rs:16-162) and this repo's ExactIndex mirrors that with
a key-sorted Parquet table, the Bloom index stores ~10 bits per distinct
key regardless of key width — the right membership structure for
high-cardinality STRING keys (UUIDs, URLs, content hashes) where a full
key table is 10-50x larger and zone maps prune nothing because the lake is
not clustered by the key. False positives only cost extra refine reads;
the §0 exact-refine invariant keeps query results exact, and a Bloom "no"
is definitive (zero false negatives), so pruning is sound.

Layout (Parquet, per build entry):

- `words/` one row per (file_path, row_group, word) where `word` indexes a
  64-bit lane of the unit's m-bit filter and `bits` is the OR of all hash
  bits landing in that lane. Sparse: lanes nobody hashed into are absent.
  Sorted by `word` so a probe's `word IN (...)` filter reaches the Parquet
  scan and row-group min/max skip everything else.
- `meta/` one row per unit: n_keys (distinct), set_bits. Drives the
  saturation escape: estimated FPR = (set_bits/m)^k per unit; if the
  size-weighted estimate says the filter passes almost everything, search
  truthfully returns BRUTE_FORCE (backends/utils.py:224-225 analog).

Build is one explode(k seeds) + map-side-combined groupBy(unit, word) —
the shuffle carries OR-combined 64-bit lanes, not rows. Merging filters is
`bit_or` per lane, so compaction = union + re-OR, associative and exact;
entries never disagree on a lane's value for the same unit (units are
disjoint across entries), so the re-agg is a no-op safety net.

Scale (100 TB): index size is O(set lanes) ≈ min(m/64, k·n_distinct) longs
per unit; with the default m=2^23, a 1M-key file costs ≤1 MB and estimates
~2% FPR. The probe is metadata-scale: k static lane keys pushed into a
word-sorted scan, then a broadcast join of ≤k rows. Row-group granularity
(`granularity="row_group"`) gives small n per unit → near-zero FPR and
sub-file pruning, at ~k·rows shuffle cost per build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import BRUTE_FORCE, SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet


class BloomIndex(SparkIndex):
    index_type = "bloom"

    def __init__(
        self,
        m_bits: int = 1 << 23,
        k_hashes: int = 5,
        granularity: str = "file",
        fpr_escape: float = 0.5,
    ):
        assert granularity in ("file", "row_group")
        assert m_bits % 64 == 0 and m_bits > 0
        self.m_bits = m_bits
        self.k_hashes = k_hashes
        self.granularity = granularity
        # if the n_keys-weighted mean of per-unit (fill^k) exceeds this,
        # the filter is saturated for the lake and probing it is overhead
        self.fpr_escape = fpr_escape

    def config(self) -> dict:
        # m/k in the catalog: a probe against a filter built with different
        # geometry would be silently wrong (tokenizer-in-header analog)
        return {
            "m_bits": self.m_bits,
            "k_hashes": self.k_hashes,
            "granularity": self.granularity,
        }

    # -- hashing --------------------------------------------------------------

    def _positions(self, df: DataFrame, key_col: str) -> DataFrame:
        """Explode each key into its k bit positions: pos_i =
        pmod(xxhash64(key, i), m). Pure codegen (xxhash64 + pmod), the
        identical expression at build and probe."""
        return df.select(
            "*",
            F.explode(
                F.array(*[F.lit(i) for i in range(self.k_hashes)])
            ).alias("__seed__"),
        ).withColumn(
            "__pos__",
            F.pmod(
                F.xxhash64(F.col(key_col).cast("string"), F.col("__seed__")),
                F.lit(self.m_bits),
            ),
        )

    @staticmethod
    def _lane(pos_col: str):
        word = (F.col(pos_col) / 64).cast("long")
        mask = F.expr(f"shiftleft(1L, cast(pmod({pos_col}, 64) as int))")
        return word, mask

    # -- lifecycle ------------------------------------------------------------

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            df = rows_with_rg_provenance(spark, files, column).select(
                "file_path", "row_group", F.col(column).alias("key")
            )
        else:
            df = read_parquet(spark, files).select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                F.col(column).alias("key"),
            )
        from pyspark.sql.types import BinaryType

        if isinstance(df.schema["key"].dataType, BinaryType):
            # binary keys: hex-encode before the string cast in _positions
            # (cast(binary as string) is a UTF-8 decode — lossy for
            # arbitrary bytes); the probe side mirrors this in
            # _query_lanes. Reference indexes binary payloads through the
            # same builders (indices/index_interface.py:10-16).
            df = df.withColumn("key", F.hex("key"))
        keys = df.filter(F.col("key").isNotNull()).distinct()
        pos = self._positions(keys, "key")
        word, mask = self._lane("__pos__")
        lanes = (
            pos.select(
                "file_path",
                "row_group",
                word.alias("word"),
                mask.alias("mask"),
            )
            .groupBy("file_path", "row_group", "word")
            .agg(F.bit_or("mask").alias("bits"))
        )
        self._write_index(lanes, f"{out_path}/words", sort_cols=["word"])
        n_keys = keys.groupBy("file_path", "row_group").agg(
            F.count(F.lit(1)).alias("n_keys")
        )
        set_bits = (
            scan_parquet(spark, f"{out_path}/words")
            .groupBy("file_path", "row_group")
            .agg(F.sum(F.bit_count("bits")).alias("set_bits"))
        )
        meta = n_keys.join(set_bits, ["file_path", "row_group"], "left").fillna(
            0, subset=["set_bits"]
        )
        self._write_index(meta, f"{out_path}/meta")

    def _query_lanes(self, spark: SparkSession, query) -> list[tuple[int, int]]:
        """The probe's (word, required_mask) pairs — computed with the SAME
        xxhash64 expression as the build, via a 1-row local DataFrame (k
        rows collected; there is no driver-side xxhash64)."""
        if isinstance(query, (bytes, bytearray)):
            query = bytes(query).hex().upper()  # matches F.hex at build
        from rottnest_spark.core.smalldf import local_df

        one = local_df(spark, [(str(query),)], "key string", slices=1)
        word, mask = self._lane("__pos__")
        rows = (
            self._positions(one, "key")
            .select(word.alias("word"), mask.alias("mask"))
            .groupBy("word")
            .agg(F.bit_or("mask").alias("mask"))
            .collect()
        )
        return [(int(r["word"]), int(r["mask"])) for r in rows]

    def search(self, spark: SparkSession, index_paths: list[str], query):
        # saturation escape from meta (rows = units, metadata-scale)
        meta = scan_parquet(spark, *[f"{p}/meta" for p in index_paths])
        fill = F.col("set_bits") / F.lit(float(self.m_bits))
        est = meta.agg(
            (
                F.sum(F.pow(fill, F.lit(self.k_hashes)) * F.col("n_keys"))
                / F.sum("n_keys")
            ).alias("wfpr")
        ).collect()[0]["wfpr"]
        if est is not None and est > self.fpr_escape:
            return BRUTE_FORCE

        lanes = self._query_lanes(spark, query)
        words = [w for w, _ in lanes]
        from rottnest_spark.core.smalldf import local_df

        req = local_df(spark, lanes, "word bigint, req bigint", slices=1)
        idx = scan_parquet(spark, *[f"{p}/words" for p in index_paths])
        # static IN-list reaches the scan; word-sorted layout prunes row
        # groups; then a broadcast join of ≤k rows checks full lane masks
        hits = (
            idx.filter(F.col("word").isin(words))
            .join(F.broadcast(req), "word")
            .filter(F.col("bits").bitwiseAND(F.col("req")) == F.col("req"))
            .groupBy("file_path", "row_group")
            .agg(F.count(F.lit(1)).alias("n_lanes"))
            .filter(F.col("n_lanes") == F.lit(len(lanes)))
            .select("file_path", "row_group")
        )
        return hits

    def predicate(self, column: str, query):
        return F.col(column) == F.lit(query)

    def brute_force(
        self, df: DataFrame, column: str, query, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        """Union + re-OR per lane (associative; a no-op when units are
        disjoint, correct even if they are not), meta re-summed."""
        words = (
            scan_parquet(spark, *[f"{p}/words" for p in index_paths])
            .groupBy("file_path", "row_group", "word")
            .agg(F.bit_or("bits").alias("bits"))
        )
        self._write_index(words, f"{out_path}/words", sort_cols=["word"])
        meta = (
            scan_parquet(spark, *[f"{p}/meta" for p in index_paths])
            .groupBy("file_path", "row_group")
            .agg(
                F.max("n_keys").alias("n_keys"),
                F.max("set_bits").alias("set_bits"),
            )
        )
        self._write_index(meta, f"{out_path}/meta")
