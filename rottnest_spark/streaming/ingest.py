"""Dedup-at-ingest: filter a stream against what the LAKE already holds.

The static side is not the lake's data — it is the lake's ExactIndex key
table (`keys/`), i.e. the same secondary index the batch search path probes
doubles as the streaming dedup reference. A micro-batch therefore joins
against a key-sorted, metadata-scale Parquet table instead of re-scanning
the lake, and the join is a stream-static LEFT ANTI (supported natively by
Structured Streaming; the static side is re-read per micro-batch, picking
up index entries added by concurrent incremental builds).

Two layers compose:
1. intra-stream: watermarked `dropDuplicates` on the key (state-store
   backed, exactly-once across micro-batches);
2. stream-vs-lake: left-anti join against the indexed key set.

Scale: the anti join broadcasts or shuffles a key table with ≤ one row per
distinct indexed key — for a 100 TB lake keyed by content hash this is the
billions-of-rows-but-narrow table the key-sorted layout was built for, and
Spark prunes its row groups by the micro-batch's key range pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rottnest_spark.sources.reader import scan_parquet


def keys_already_in_lake(lake, column: str) -> DataFrame:
    """The distinct LIVE key set of `column`: the exact-index key tables
    UNIONed with the keys of live files the index does not cover yet
    (`lake.append` never refreshes the index, so files appended since the
    last build — including this very stream's earlier micro-batches —
    exist only in the second leg). Without the union, a batch replayed
    after a crash between append and checkpoint, or a key repeated across
    micro-batches within one run, would re-land in full (round-4 ADVICE).

    Raises if the lake has no exact index on the column — dedup against a
    fully unindexed lake would scan everything every batch; the index is
    the design's reference set, the unindexed-tail scan only bridges the
    window until the next build_index()/refresh_indices().
    """
    from rottnest_spark.core.planner import unindexed_files
    from rottnest_spark.indices.exact import _hex_key

    entries = lake.catalog.entries_for("exact", column)
    if not entries:
        raise ValueError(
            f"no exact index on {column!r}: build one first "
            "(lake.build_index(ExactIndex(), column)) — ingest dedup uses "
            "the index as its reference set"
        )
    paths = [f"{e['index_path']}/keys" for e in entries]
    keys = scan_parquet(lake.spark, *paths).select("key")
    todo = unindexed_files(lake.catalog, "exact", column, lake.files)
    if todo:
        fresh = lake.read(todo)
        keys = keys.unionByName(
            fresh.select(_hex_key(fresh, column).alias("key"))
        )
    return keys.distinct()


def stream_ingest_dedup(
    stream: DataFrame,
    key_col: str,
    lake,
    column: str,
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Rows of `stream` whose `key_col` is NOT already in the lake (per its
    exact index on `column`), with intra-stream duplicates dropped first.

    `watermark=(ts_col, delay)` bounds the dropDuplicates state store; omit
    it only for bounded backfills (state then grows with distinct keys).
    Returns a streaming DataFrame — attach your own writeStream sink."""
    out = stream
    if watermark is not None:
        ts_col, delay = watermark
        out = out.withWatermark(ts_col, delay)
    out = out.dropDuplicates([key_col])
    keys = keys_already_in_lake(lake, column).withColumnRenamed(
        "key", "__lake_key__"
    )
    return out.join(
        keys, out[key_col] == F.col("__lake_key__"), "left_anti"
    )


def stream_ingest_to_table(
    spark,
    src_dir: str,
    schema,
    lake,
    checkpoint_dir: str,
    dedup_key: str | None = None,
    timeout_sec: int = 300,
    max_files_per_trigger: int = 64,
) -> list[dict]:
    """Continuous ingestion into a FORMAT-BACKED lake: each micro-batch
    lands through `lake.append` — on a DeltaWritableLake /
    IcebergWritableLake that is ONE atomic transaction-log commit per
    batch, readable by any spec engine the moment it lands.

    With `dedup_key`, each batch first drops intra-batch duplicates and
    LEFT ANTI joins the lake's exact-index key table (the
    stream_ingest_dedup discipline) — which also makes crash-replays
    effectively idempotent for keyed data: a batch re-run after a crash
    between append and checkpoint re-commits only keys the first attempt
    failed to land. Without a key, replays are at-least-once (the
    standard foreachBatch contract — stated, not hidden).

    Returns per-batch {"batch": id, "rows": n, "files": n} stats."""
    stats: list[dict] = []

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = batch_df
        if dedup_key is not None:
            b = b.dropDuplicates([dedup_key])
            keys = keys_already_in_lake(lake, dedup_key).withColumnRenamed(
                "key", "__lake_key__"
            )
            b = b.join(
                keys, b[dedup_key] == F.col("__lake_key__"), "left_anti"
            )
            b = b.localCheckpoint(eager=True)  # pin before count + write
            if b.isEmpty():
                return
        new = lake.append(b)
        stats.append(
            {"batch": int(batch_id), "rows": b.count(), "files": len(new)}
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stats


def stream_ingest_neardedup(
    spark,
    src_dir: str,
    schema,
    id_col: str,
    text_col: str,
    out_dir: str,
    bands_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    verify: bool = True,
    timeout_sec: int = 300,
) -> list[dict]:
    """Continuous NEAR-dup-free ingestion: each micro-batch is deduped
    against the persisted LSH band table (ops/dedup.py:
    incremental_neardedup — the corpus text is only touched for candidate
    partners, and only in verify mode), then the clean rows land in
    `out_dir` and their bands extend `bands_dir`. The band table IS the
    dedup state; no state store, no corpus re-scan, survives restarts by
    construction. Returns per-batch {"in": n, "kept": n} stats."""
    import os

    from rottnest_spark.ops.dedup import incremental_neardedup

    stats: list[dict] = []

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        n_in = batch_df.count()
        have_hist = os.path.isdir(bands_dir) and any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(bands_dir)
            for f in fs
        )
        if have_hist:
            hist = spark.read.parquet(bands_dir)
            hdocs = (
                spark.read.parquet(out_dir).select(id_col, text_col)
                if verify
                else None
            )
            clean, cbands = incremental_neardedup(
                batch_df, hist, id_col, text_col,
                threshold=threshold, history_docs=hdocs,
            )
        else:
            from rottnest_spark.ops.dedup import minhash_band_table

            clean, cbands = batch_df, minhash_band_table(
                batch_df, id_col, text_col
            )
        clean = clean.localCheckpoint(eager=True)  # pin before double write
        clean.write.mode("append").parquet(out_dir)
        cbands.write.mode("append").parquet(bands_dir)
        stats.append({"in": n_in, "kept": clean.count()})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stats


def stream_ingest_upsert(
    spark,
    src_dir: str,
    schema,
    table_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    timeout_sec: int = 300,
    max_files_per_trigger: int = 64,
) -> list[dict]:
    """Continuous CDC UPSERT ingestion into an Iceberg table: each
    micro-batch lands as ONE equality-delete snapshot
    (sources/iceberg_write.iceberg_upsert) — O(|batch|) work with zero
    data-file scans, the write shape that keeps a 100 TB keyed table
    current from a change stream. Within a batch, the LAST row per key
    wins (dropDuplicates on arrival order is nondeterministic, so rows
    are max-reduced by every non-key column being taken from one
    arbitrary-but-single row via dropDuplicates(key) after coalescing —
    callers with a sequence column should pre-collapse with
    ops/merge.merge_changes).

    Replays are effectively idempotent for keyed data: re-upserting the
    same batch re-deletes and re-inserts the same keys — same final
    state. Returns per-batch {"batch", "rows"} stats."""
    from rottnest_spark.sources.iceberg_write import iceberg_upsert

    stats: list[dict] = []

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # pin the deduplicated batch: the upsert walks it twice (data
        # write + key write) and the stats count a third time
        b = batch_df.dropDuplicates(key_cols).localCheckpoint(eager=True)
        iceberg_upsert(spark, b, table_path, key_cols)
        stats.append({"batch": int(batch_id), "rows": b.count()})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stats
