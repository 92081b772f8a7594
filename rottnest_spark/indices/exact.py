"""Exact-match index — the analog of the reference's UUID trie index
(src/lava/uuid/uuid.rs:16-162, trie.rs) and of its "virtual mode" zone maps
(backends/utils.py:110-126).

Two index tables per build, both Parquet:

- `zone/`  one row per (file, row_group): min/max of the key column — the
  generalized zone map. O(units) rows, tiny.
- `keys/`  distinct (key, file, row_group), **range-partitioned and sorted by
  key** — the trie replacement. A point probe `key == q` reaches the Parquet
  scan as a pushed filter, so row-group min/max stats skip everything but the
  few row groups whose key range covers q. That is exactly the work the
  reference's 16-level root LUT + leaf-trie walk does (trie.rs:130-180),
  done by the Parquet reader instead of custom binary search.

Refine predicate (F2, indices/uuid_index.py:13-15): equality on the raw
column. Set `store_keys=False` to keep only zone maps (cheaper build, coarser
pruning — right choice when the lake is written sorted/clustered by the key).

Scale: `keys/` has ≤ one row per distinct (key, unit); the build is a single
distinct-shuffle. Probe touches O(log) row groups. At 100 TB the zone table
alone prunes to the few files whose range covers the probe key.

Binary keys (the reference indexes `data_type='binary'` payloads through
the same trie builders, indices/index_interface.py:10-16,
src/lava/uuid/uuid.rs:25-43): a BinaryType column is HEX-ENCODED into the
index tables (uppercase, byte-order-preserving, so zone-map ranges stay
meaningful) and a bytes probe is hex-encoded the same way; the refine
still compares the raw binary column, so results are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet


def _hex_key(df: DataFrame, column: str):
    """Key expression for the index tables: BinaryType hex-encodes (byte
    order == hex string order, so min/max zones stay sound); other types
    pass through."""
    from pyspark.sql.types import BinaryType

    col = F.col(column)
    if isinstance(df.schema[column].dataType, BinaryType):
        return F.hex(col)
    return col


def _hex_query(query):
    """Probe-side twin of _hex_key: bytes → uppercase hex (matching
    Spark's F.hex), scalars pass through."""
    if isinstance(query, (bytes, bytearray)):
        return bytes(query).hex().upper()
    return query


class ExactIndex(SparkIndex):
    index_type = "exact"

    def __init__(self, store_keys: bool = True, granularity: str = "file"):
        assert granularity in ("file", "row_group")
        self.store_keys = store_keys
        self.granularity = granularity

    def config(self) -> dict:
        return {"store_keys": self.store_keys, "granularity": self.granularity}

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            src = rows_with_rg_provenance(spark, files, column)
            df = src.select(
                "file_path", "row_group", _hex_key(src, column).alias("key")
            )
        else:
            src = read_parquet(spark, files)
            df = src.select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                _hex_key(src, column).alias("key"),
            )
        zone = df.groupBy("file_path", "row_group").agg(
            F.min("key").alias("min_key"), F.max("key").alias("max_key")
        )
        if not self.store_keys:
            self._write_index(zone, f"{out_path}/zone")
            return
        # zone and keys are independent scan+agg+write chains over the
        # same on-disk source — run them as concurrent jobs (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=1) as pool:
            # the chain inherits the caller's job group, so a timeout's
            # cancelJobGroup reaches it
            fut_zone = pool.submit(
                inheritable_thread_target(spark)(self._write_index),
                zone,
                f"{out_path}/zone",
            )
            # per-(key, unit) row COUNTS make the key table a covering
            # index: count-style queries are answered from the index alone
            # (count_key / ParquetLake.count_matches), no data fetch
            keys = df.groupBy("file_path", "row_group", "key").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            try:
                self._write_index(keys, f"{out_path}/keys", sort_cols=["key"])
            except Exception as exc:
                # join the zone chain so its failure is noted, not lost
                # behind the keys write's error at pool shutdown
                try:
                    fut_zone.result()
                except Exception as side:
                    exc.add_note(
                        f"concurrent zone write also failed: {side!r}"
                    )
                raise
            fut_zone.result()

    def search(self, spark: SparkSession, index_paths: list[str], query):
        if isinstance(query, tuple):  # (lo, hi) range probe → zone maps
            return self.search_range(spark, index_paths, *query)
        query = _hex_query(query)
        if self.store_keys:
            keys = scan_parquet(spark, *[f"{p}/keys" for p in index_paths])
            # (file, row_group, key) is unique per entry; a unit repeats
            # only across entries, and the bounded collect de-duplicates
            return keys.filter(F.col("key") == F.lit(query)).select(
                "file_path", "row_group"
            )
        zones = scan_parquet(spark, *[f"{p}/zone" for p in index_paths])
        return zones.filter(
            (F.col("min_key") <= F.lit(query)) & (F.col("max_key") >= F.lit(query))
        ).select("file_path", "row_group")

    def search_local(self, spark: SparkSession, index_paths: list[str], query):
        """`key == q` over the footer-pruned key-table slice. Only str and
        int keys against string and integer key columns, where Arrow's
        equality is Spark's; any other probe takes the Spark path."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from rottnest_spark.sources.reader import read_index_slice

        query = _hex_query(query)
        if not self.store_keys or type(query) not in (str, int):
            return None
        if type(query) is int and not -(2**63) <= query < 2**63:
            return None
        parts = read_index_slice(
            [f"{p}/keys" for p in index_paths],
            "key",
            [query],
            ["key", "file_path", "row_group"],
        )
        if parts is None:
            return None
        is_str = type(query) is str
        units = []
        for t in parts:
            typ = t.schema.field("key").type
            if not (pa.types.is_string(typ) if is_str else pa.types.is_integer(typ)):
                return None
            hit = t.filter(pc.equal(t["key"], pa.scalar(query)))
            units += zip(
                hit["file_path"].to_pylist(), hit["row_group"].to_pylist()
            )
        return units

    def count_key(
        self, spark: SparkSession, index_paths: list[str], query,
        live_files: set | None = None,
    ):
        """INDEX-ONLY exact count of rows with key == query across the
        covered units — the covering-index fast path: the key table stores
        per-(key, unit) row counts, so count-style queries never touch data
        files. Returns None when store_keys=False (zone maps cannot count).
        `live_files` restricts to still-live lake files (stale entries may
        reference deleted files)."""
        if not self.store_keys:
            return None
        keys = scan_parquet(spark, *[f"{p}/keys" for p in index_paths])
        hits = keys.filter(F.col("key") == F.lit(_hex_query(query)))
        if live_files is not None:
            from rottnest_spark.core.smalldf import local_df

            live_df = local_df(
                spark, [(f,) for f in sorted(live_files)], "file_path string"
            )
            hits = hits.join(F.broadcast(live_df), "file_path", "semi")
        row = hits.agg(F.sum("cnt").alias("n")).collect()[0]
        return int(row["n"] or 0)

    def search_many(
        self, spark: SparkSession, index_paths: list[str], queries: list
    ) -> list:
        """Batched point lookups: one key-table (or zone) scan covers every
        key via an IN-list — the min/max-sorted index prunes row groups for
        the whole batch at once, versus one scan per key. Range tuples
        take search(). Candidates in query order."""
        probes = [_hex_query(q) for q in queries if not isinstance(q, tuple)]
        if not probes:
            return [self.search(spark, index_paths, q) for q in queries]
        if self.store_keys:
            keys = scan_parquet(spark, *[f"{p}/keys" for p in index_paths])
            hits = (
                keys.filter(F.col("key").isin(probes))
                .select("key", "file_path", "row_group")
                .distinct()
                .localCheckpoint(eager=True)
            )

            def point(p):
                return hits.filter(F.col("key") == F.lit(p))

        else:
            zones = scan_parquet(
                spark, *[f"{p}/zone" for p in index_paths]
            ).localCheckpoint(eager=True)

            def point(p):
                return zones.filter(
                    (F.col("min_key") <= F.lit(p)) & (F.col("max_key") >= F.lit(p))
                )

        return [
            self.search(spark, index_paths, q)
            if isinstance(q, tuple)
            else point(_hex_query(q)).select("file_path", "row_group")
            for q in queries
        ]

    def search_range(self, spark: SparkSession, index_paths: list[str], lo, hi):
        """Candidate units whose key range intersects [lo, hi] — the classic
        zone-map range scan. Uses the zone table regardless of store_keys
        (O(units) rows beats a key-table range for wide ranges)."""
        lo, hi = _hex_query(lo), _hex_query(hi)
        zones = scan_parquet(spark, *[f"{p}/zone" for p in index_paths])
        return zones.filter(
            (F.col("min_key") <= F.lit(hi)) & (F.col("max_key") >= F.lit(lo))
        ).select("file_path", "row_group")

    def brute_force_range(self, df: DataFrame, column: str, lo, hi) -> DataFrame:
        return df.filter(F.col(column).between(F.lit(lo), F.lit(hi)))

    def predicate(self, column: str, query):
        if isinstance(query, tuple):
            lo, hi = query
            return F.col(column).between(F.lit(lo), F.lit(hi))
        return F.col(column) == F.lit(query)

    def brute_force(
        self, df: DataFrame, column: str, query, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        zones = scan_parquet(spark, *[f"{p}/zone" for p in index_paths])
        self._write_index(zones, f"{out_path}/zone")
        if self.store_keys:
            keys = scan_parquet(spark, *[f"{p}/keys" for p in index_paths])
            self._write_index(keys, f"{out_path}/keys", sort_cols=["key"])


class PrefixSearch(ExactIndex):
    """Prefix predicate (`startswith`) riding the SAME exact-index tables
    (the RegexSearch/PhraseSearch reuse pattern: `index_type`/`config()`
    are inherited, so a probe reuses catalog entries built by ExactIndex).

    The reference's uuid trie serves prefix walks natively
    (src/lava/uuid/trie.rs:554-595); here the zone table prunes units by
    a sound prefix-overlap test: a unit can hold a match only if
    `max_key >= prefix` (every match sorts >= prefix) AND
    `substring(min_key, 1, len(prefix)) <= prefix` (lexicographic order
    survives truncation, so the truncated min is <= the truncated match
    == prefix). No finite upper bound appears — the old
    `prefix + U+10FFFF` range could drop a true match whose key extended
    the bound character. Exact `startswith` refine. String keys, plus
    bytes prefixes over binary key columns (hex-encoded index tables:
    hex preserves byte order, and a byte prefix is an even-length hex
    prefix, so the same truncated-min test applies)."""

    #: past any character that can follow a prefix in UTF-8 collation
    #: (kept for virtual-path callers that need a coarse range seed)
    _HI = "\U0010ffff"

    # the prefix probe reads the zone table, on Spark
    search_local = SparkIndex.search_local

    # ExactIndex's batched probe matches whole keys, not prefixes
    search_many = SparkIndex.search_many

    def search(self, spark: SparkSession, index_paths: list[str], query):
        query = _hex_query(query)
        zones = scan_parquet(spark, *[f"{p}/zone" for p in index_paths])
        return zones.filter(
            (F.substring(F.col("min_key"), 1, len(query)) <= F.lit(query))
            & (F.col("max_key") >= F.lit(query))
        ).select("file_path", "row_group")

    def predicate(self, column: str, query):
        if isinstance(query, (bytes, bytearray)):
            return F.startswith(F.col(column), F.lit(bytes(query)))
        return F.col(column).startswith(F.lit(query))

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out
