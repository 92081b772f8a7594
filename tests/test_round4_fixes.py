"""Regression tests for the round-4 correctness fixes:

- PrefixSearch zone pruning must never drop a key that extends the old
  finite upper bound (prefix + U+10FFFF);
- snapshot ids must stay monotonic across vacuum_history (count-derived
  ids could silently overwrite a kept snapshot);
- search_disj must discard candidate units referencing files replaced by
  a rewrite (stale index entries before vacuum);
- the shard-export checksum must cover EVERY column, not just the id;
- merge_into must reject NULL merge keys with a clear error.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from rottnest_spark.core.lake import ParquetLake
from rottnest_spark.indices.exact import ExactIndex, PrefixSearch


# -- prefix upper-bound soundness --------------------------------------------


def test_prefix_search_key_extending_old_bound(spark, tmp_path):
    """A key equal to prefix + U+10FFFF + more sorts ABOVE the old
    range hi while still matching startswith — both the indexed and the
    virtual path must find it."""
    weird = "user-02\U0010ffffzz"
    rows = [(i, f"user-{i:04d}") for i in range(100)] + [(777, weird)]
    df = spark.createDataFrame(rows, "id bigint, uid string")
    data = str(tmp_path / "d")
    df.coalesce(1).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "i"))

    expected = sorted(
        r["id"] for r in df.filter(df.uid.startswith("user-02")).collect()
    )
    assert 777 in expected

    # virtual (no index) path
    got_v = sorted(r["id"] for r in lake.lookup_prefix("uid", "user-02").collect())
    assert got_v == expected

    # indexed path
    lake.build_index(ExactIndex(), "uid")
    got_i = sorted(
        r["id"] for r in lake.search(PrefixSearch(), "uid", "user-02").collect()
    )
    assert got_i == expected


# -- snapshot id monotonicity ------------------------------------------------


def _mk_changes(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v string, seq bigint, op string"
    )


@pytest.fixture()
def hist_lake(spark, tmp_path):
    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k bigint, v string"
    ).coalesce(1)
    df.write.parquet(str(tmp_path / "stage"))
    src = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    os.replace(src, os.path.join(data_dir, "part0.parquet"))
    return ParquetLake(
        spark, data_dir, str(tmp_path / "idx"), retain_history=True
    )


def test_snapshot_ids_survive_vacuum_history(spark, hist_lake):
    hist_lake.merge_into(_mk_changes(spark, [(5, "a", 1, "U")]), "k")
    hist_lake.merge_into(_mk_changes(spark, [(5, "b", 2, "U")]), "k")
    assert hist_lake.snapshots() == [0, 1]
    hist_lake.vacuum_history(keep_last=1)
    assert hist_lake.snapshots() == [1]
    # the next rewrite must allocate id 2, NOT reuse (and overwrite) 1
    hist_lake.merge_into(_mk_changes(spark, [(5, "c", 3, "U")]), "k")
    assert hist_lake.snapshots() == [1, 2]
    # snapshot 1 still shows its own state (value 'a'), untouched
    assert {
        r["v"]
        for r in hist_lake.as_of(1).read().filter(F.col("k") == 5).collect()
    } == {"a"}
    assert {
        r["v"]
        for r in hist_lake.as_of(2).read().filter(F.col("k") == 5).collect()
    } == {"b"}


# -- disj liveness across a rewrite ------------------------------------------


def test_search_disj_discards_stale_candidates(spark, tmp_path):
    """Index entries referencing files replaced by compact_files (stale
    until vacuum) must not surface dead paths to the reader on the
    disjunctive path — search() already filters these; search_disj used
    to pass them straight to read_candidates."""
    df = spark.createDataFrame(
        [(i, f"name_{i % 40}") for i in range(400)], "k bigint, name string"
    )
    data = str(tmp_path / "d")
    df.repartition(4).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "i"))
    idx = ExactIndex()
    lake.build_index(idx, "k")

    # replace every data file; entries now reference only dead paths
    assert lake.compact_files(target_rows=10**9)

    got = sorted(
        r["k"]
        for r in lake.search_disj([(idx, "k", 5), (idx, "k", 250)]).collect()
    )
    assert got == [5, 250]


# -- export checksum covers full row content ---------------------------------


def test_export_checksum_detects_content_corruption(spark, tmp_path):
    import pyarrow.parquet as pq

    from rottnest_spark.ops.export import verify_shards, write_token_shards

    docs = spark.createDataFrame(
        [(i, f"text body {i}", 10 + (i % 7)) for i in range(120)],
        "doc_id bigint, text string, n_tokens bigint",
    )
    out = str(tmp_path / "shards")
    man = write_token_shards(docs, "doc_id", "n_tokens", out, shard_tokens=200)
    assert verify_shards(spark, out, "doc_id", "n_tokens") == []

    # corrupt ONE value of a non-id, non-token column in one shard file
    part = sorted(glob.glob(os.path.join(out, "shard_id=*/part-*.parquet")))[0]
    tbl = pq.read_table(part).to_pandas()
    tbl.loc[0, "text"] = "TAMPERED"
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), part)
    # drop Hadoop's .crc sidecar so the LOCAL-FS transport check doesn't
    # mask the manifest-level verification under test
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    bad = verify_shards(spark, out, "doc_id", "n_tokens")
    assert len(bad) == 1  # exactly the tampered shard is flagged


# -- binary key columns ------------------------------------------------------


@pytest.fixture()
def bin_lake(spark, tmp_path):
    """Rows keyed by raw md5 digests (BinaryType), 4 files."""
    df = (
        spark.range(400)
        .select(
            F.col("id").alias("k"),
            F.unhex(F.md5(F.col("id").cast("string"))).alias("bkey"),
        )
    )
    data = str(tmp_path / "d")
    df.repartition(4).write.parquet(data)
    return ParquetLake(spark, data, str(tmp_path / "i")), df


def test_exact_index_binary_keys(spark, bin_lake):
    import hashlib

    lake, df = bin_lake
    idx = ExactIndex()
    lake.build_index(idx, "bkey")
    probe = hashlib.md5(b"123").digest()
    got = [r["k"] for r in lake.search(idx, "bkey", probe).collect()]
    assert got == [123]
    absent = hashlib.md5(b"not-a-key").digest()
    assert lake.search(idx, "bkey", absent).count() == 0
    # batched form keyed by the ORIGINAL bytes query
    many = lake.search_many(
        idx, "bkey", [hashlib.md5(b"7").digest(), hashlib.md5(b"9").digest()]
    )
    got_many = {(bytes(r["__query__"]), r["k"]) for r in many.collect()}
    assert got_many == {
        (hashlib.md5(b"7").digest(), 7),
        (hashlib.md5(b"9").digest(), 9),
    }


def test_prefix_search_binary_keys(spark, bin_lake):
    import hashlib

    lake, df = bin_lake
    lake.build_index(ExactIndex(), "bkey")
    digest = hashlib.md5(b"42").digest()
    got = [
        r["k"]
        for r in lake.search(PrefixSearch(), "bkey", digest[:4]).collect()
    ]
    assert got == [42]
    # full-scan equivalence over a 1-byte prefix (multiple matches)
    one = digest[:1]
    got1 = sorted(
        r["k"] for r in lake.search(PrefixSearch(), "bkey", one).collect()
    )
    exp1 = sorted(
        r["k"]
        for r in df.filter(F.startswith(F.col("bkey"), F.lit(one))).collect()
    )
    assert got1 == exp1 and 42 in got1


def test_bloom_index_binary_keys(spark, bin_lake):
    import hashlib

    from rottnest_spark.indices.bloom import BloomIndex

    lake, df = bin_lake
    idx = BloomIndex(m_bits=1 << 14)
    lake.build_index(idx, "bkey")
    probe = hashlib.md5(b"250").digest()
    got = [r["k"] for r in lake.search(idx, "bkey", probe).collect()]
    assert got == [250]
    assert lake.search(idx, "bkey", hashlib.md5(b"zzz").digest()).count() == 0


# -- early-stop in-situ scan (T6) --------------------------------------------


def test_insitu_scan_early_stops_on_k(spark, tmp_path):
    """With a row budget and a predicate index, the unindexed-file scan
    batches newest-first and stops once k rows are found — bounded file
    opens (reference: logcloud reverse-batch early stop)."""
    import time

    data = str(tmp_path / "d")
    os.makedirs(data)
    # 6 single-file writes with distinct mtimes; every file has matches
    for part in range(6):
        df = spark.createDataFrame(
            [(part * 100 + i, f"m{(part * 100 + i) % 3}") for i in range(100)],
            "k bigint, tag string",
        ).coalesce(1)
        stage = str(tmp_path / f"s{part}")
        df.write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(data, f"f{part}.parquet")
        os.replace(src, dst)
        t = time.time() + part  # strictly increasing mtimes
        os.utime(dst, (t, t))
    lake = ParquetLake(spark, data, str(tmp_path / "i"))
    lake.insitu_batch_files = 2

    idx = ExactIndex()  # no index built: the whole lake is in-situ
    got = lake.search(idx, "tag", "m1", k=5).collect()
    assert len(got) == 5 and all(r["tag"] == "m1" for r in got)
    # first 2-file batch has ~66 matches >= 5 → exactly one batch opened
    assert len(lake._insitu_files_scanned) == 2
    # newest files first (f5, f4)
    assert [os.path.basename(f) for f in lake._insitu_files_scanned] == [
        "f5.parquet", "f4.parquet",
    ]

    # search_many takes the same early stop for each query
    del lake._insitu_files_scanned
    many = lake.search_many(idx, "tag", ["m1"], k=5).collect()
    assert len(many) == 5 and all(r["tag"] == "m1" for r in many)
    assert [os.path.basename(f) for f in lake._insitu_files_scanned] == [
        "f5.parquet", "f4.parquet",
    ]

    # unbatched correctness: no k → full lazy scan, all matches
    all_rows = lake.search(idx, "tag", "m1").count()
    assert all_rows == 200


# -- disj probe batching -----------------------------------------------------


def test_search_disj_batches_same_index_specs(spark, tmp_path):
    """N specs over the same (index, column) must issue ONE batched probe
    (search_many), not N serial searches, when the probes run on Spark
    (index slices over the driver-probe budget); under the budget they
    run on the driver and issue no Spark probe at all."""
    import rottnest_spark.sources.reader as reader
    from rottnest_spark.indices.substring import SubstringIndex

    df = spark.createDataFrame(
        [(i, f"row number {i} tag_{i % 7}") for i in range(300)],
        "id bigint, text string",
    )
    data = str(tmp_path / "d")
    df.repartition(3).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "i"))
    idx = SubstringIndex()
    lake.build_index(idx, "text")

    calls = {"many": 0, "single": 0}
    orig_many, orig_single = idx.search_many, idx.search

    def counting_many(spark_, paths, queries):
        calls["many"] += 1
        return orig_many(spark_, paths, queries)

    def counting_single(spark_, paths, q):
        calls["single"] += 1
        return orig_single(spark_, paths, q)

    def disj():
        return sorted(
            r["id"]
            for r in lake.search_disj(
                [(idx, "text", "tag_3"), (idx, "text", "tag_5")]
            ).collect()
        )

    idx.search_many, idx.search = counting_many, counting_single
    budget = reader._SLICE_BUDGET
    try:
        on_driver = disj()
        assert calls == {"many": 0, "single": 0}
        reader._SLICE_BUDGET = 0
        got = disj()
    finally:
        idx.search_many, idx.search = orig_many, orig_single
        reader._SLICE_BUDGET = budget
    assert calls == {"many": 1, "single": 0}
    expected = sorted(
        r["id"]
        for r in df.filter(
            F.col("text").contains("tag_3") | F.col("text").contains("tag_5")
        ).collect()
    )
    assert got == on_driver == expected


# -- binary payload substring search -----------------------------------------


def test_substring_index_binary_payloads(spark, tmp_path):
    """Byte-subsequence search through the substring index on a
    BinaryType column: hex-encoded grams at even offsets (byte-aligned),
    raw-binary refine. The odd-offset hex coincidence (payload A1B2
    vs query 1B) must not match."""
    from rottnest_spark.indices.substring import SubstringIndex

    needle = bytes([0xDE, 0xAD, 0xBE, 0xEF])
    rows = []
    for i in range(300):
        body = bytes([(i * 7 + j) % 251 for j in range(40)])
        if i % 50 == 0:
            body = body[:10] + needle + body[10:]
        rows.append((i, bytearray(body)))
    # the hex-coincidence row: contains hex of needle at ODD offset only
    # (payload 0DEA DBEE F... as bytes 0x0D 0xEA 0xDB 0xEE 0xF0)
    rows.append((999, bytearray(bytes([0x0D, 0xEA, 0xDB, 0xEE, 0xF0] * 4))))
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    data = str(tmp_path / "d")
    df.repartition(3).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "i"))
    idx = SubstringIndex(gram=3)
    lake.build_index(idx, "payload")

    got = sorted(r["id"] for r in lake.search(idx, "payload", needle).collect())
    expected = sorted(
        r["id"]
        for r in df.filter(
            F.contains(F.col("payload"), F.lit(needle))
        ).collect()
    )
    assert got == expected == [0, 50, 100, 150, 200, 250]
    assert 999 not in got  # odd-offset hex coincidence rejected
    # absent needle (byte values > 250 never occur in the fixture):
    # absence proof, zero rows
    assert lake.search(idx, "payload", bytes([0xFD, 0xFE, 0xFD, 0xFE])).count() == 0


# -- NULL merge keys rejected ------------------------------------------------


def test_merge_into_null_key_raises(spark, tmp_path):
    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ).coalesce(1)
    df.write.parquet(str(tmp_path / "stage"))
    src = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    os.replace(src, os.path.join(data_dir, "part0.parquet"))
    lake = ParquetLake(spark, data_dir, str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="NULL"):
        lake.merge_into(
            _mk_changes(spark, [(None, "x", 1, "U"), (3, "y", 1, "U")]), "k"
        )
