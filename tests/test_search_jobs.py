"""Per-query Spark job floor of indexed search, and the schema memo that
keeps repeated scans from running Spark's schema-inference job.

The memo must reproduce exactly what `spark.read.parquet` infers: from
the lexicographically smallest path, under the session's conversion
flags, and never from a stale file."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from rottnest_spark import ParquetLake
from rottnest_spark.core.catalog import IndexCatalog
from rottnest_spark.core.refine import collect_candidates_bounded
from rottnest_spark.indices.bm25 import BM25Index, bm25_topk
from rottnest_spark.indices.exact import ExactIndex
from rottnest_spark.indices.substring import SubstringIndex
from rottnest_spark.indices.vector import VectorIndex, knn_topk
from rottnest_spark.sources.reader import scan_parquet

N_ROWS = 400


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, n, lo=0):
    return spark.range(lo, lo + n).select(
        F.format_string("key-%05d", "id").alias("key"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("body"),
    )


def _key_in(spark, path):
    return spark.read.parquet(path).select("key").limit(1).collect()[0][0]


@pytest.fixture(scope="module")
def warm_lake(spark, tmp_path_factory):
    """A 2-file lake with an exact index on `key`, warmed by one hit in
    each file and one miss."""
    root = tmp_path_factory.mktemp("jobs")
    data = str(root / "data")
    _rows(spark, N_ROWS).repartition(2).write.parquet(data)
    lake = ParquetLake(spark, data, str(root / "idx"))
    idx = ExactIndex()
    lake.build_index(idx, "key")
    assert len(lake.files) == 2
    hits = [_key_in(spark, f) for f in lake.files]
    for q in hits + ["no-such-key"]:
        lake.search(idx, "key", q, k=10).collect()
    return lake, idx, hits


def test_point_hit_runs_at_most_one_job(spark, warm_lake):
    lake, idx, hits = warm_lake
    for i, q in enumerate(hits):
        rows = []
        n = _count_jobs(
            spark,
            f"jobs-hit-{i}",
            lambda: rows.extend(lake.search(idx, "key", q, k=10).collect()),
        )
        assert [r["key"] for r in rows] == [q]
        assert n <= 1, f"point hit ran {n} jobs"


def test_point_miss_runs_no_job(spark, warm_lake):
    lake, idx, _ = warm_lake
    rows = []
    n = _count_jobs(
        spark,
        "jobs-miss",
        lambda: rows.extend(lake.search(idx, "key", "key-99999", k=10).collect()),
    )
    assert rows == []
    assert n == 0, f"point miss ran {n} jobs"


def test_composites_probe_on_the_driver(spark, warm_lake):
    """search_many over three point keys and search_disj over two run no
    Spark job until their result is collected: one plan, driver probes."""
    lake, idx, hits = warm_lake
    keys = hits + ["no-such-key"]
    for kind, call in (
        ("many", lambda: lake.search_many(idx, "key", keys, k=10)),
        ("disj", lambda: lake.search_disj([(idx, "key", q) for q in hits])),
    ):
        out = []
        n = _count_jobs(spark, f"jobs-{kind}", lambda: out.append(call()))
        assert n == 0, f"{kind} ran {n} jobs before the collect"
        assert sorted(r["key"] for r in out[0].collect()) == sorted(hits)


@pytest.fixture(scope="module")
def text_lake(spark, tmp_path_factory):
    """A 2-file lake with substring, BM25 and vector indexes, warmed."""
    root = tmp_path_factory.mktemp("jobs_text")
    data = str(root / "data")
    _rows(spark, N_ROWS).withColumn(
        "emb", F.array(F.sin("grp"), F.cos(F.length("body")))
    ).repartition(2).write.parquet(data)
    lake = ParquetLake(spark, data, str(root / "idx"))
    idx = {
        "substring": (SubstringIndex(), "body"),
        "bm25": (BM25Index(), "body"),
        "vector": (VectorIndex(rows_per_centroid=50, nprobes=2), "emb"),
    }
    for index, column in idx.values():
        lake.build_index(index, column)
    for q in ("text 17", "text 399"):
        lake.search(*idx["substring"], q, k=10).collect()
    bm25_topk(lake, *idx["bm25"], "text 17", 10, "key").collect()
    knn_topk(lake, *idx["vector"], [0.5, 0.5], 10, "key").collect()
    return lake, idx


def test_substring_search_runs_at_most_one_job(spark, text_lake):
    lake, idx = text_lake
    for i, q in enumerate(("text 123", "text 2", "no such text")):
        rows = []
        n = _count_jobs(
            spark,
            f"jobs-substring-{i}",
            lambda: rows.extend(lake.search(*idx["substring"], q, k=10).collect()),
        )
        assert all(q in r["body"] for r in rows)
        assert n <= 1, f"substring search ran {n} jobs"


def test_top10_runs_at_most_three_jobs(spark, text_lake):
    lake, idx = text_lake
    for kind, run in (
        ("bm25", lambda: bm25_topk(lake, *idx["bm25"], "text 123", 10, "key")),
        ("vector", lambda: knn_topk(lake, *idx["vector"], [0.1, 0.9], 10, "key")),
    ):
        rows = []
        n = _count_jobs(
            spark, f"jobs-top10-{kind}", lambda: rows.extend(run().collect())
        )
        assert len(rows) == 10
        assert n <= 3, f"{kind} top-10 ran {n} jobs"


def test_pooled_build_chains_inherit_the_job_group(spark, tmp_path):
    """The exact and BM25 builds write their tables on pool threads; those
    jobs carry the caller's job group, so cancelling it reaches them."""
    data = str(tmp_path / "data")
    _rows(spark, N_ROWS // 4).coalesce(1).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "idx"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    n = _count_jobs(
        spark,
        "jobs-build",
        lambda: [
            lake.build_index(ExactIndex(), "key"),
            lake.build_index(BM25Index(), "body"),
        ],
    )
    assert n > 0
    # no new job without a group; old ones may leave the tracker once the
    # session has run more than spark.ui.retainedJobs (1000) jobs
    assert not set(tracker.getJobIdsForGroup(None)) - before


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def test_mixed_schema_list_matches_spark_in_both_orders(spark, tmp_path):
    narrow = _write(
        str(tmp_path / "a_narrow.parquet"), pa.table({"x": pa.array([1, 2])})
    )
    wide = _write(
        str(tmp_path / "z_wide.parquet"),
        pa.table({"x": pa.array([3]), "y": pa.array(["w"])}),
    )
    for order in ([wide, narrow], [narrow, wide]):
        want = spark.read.parquet(*order).schema
        # first call fills the memo, the second is served from it
        assert scan_parquet(spark, *order).schema == want
        assert scan_parquet(spark, *order).schema == want
    # a memo entry made by the wide file alone is not the list's schema
    assert scan_parquet(spark, wide).schema == spark.read.parquet(wide).schema
    got = scan_parquet(spark, wide, narrow)
    assert got.schema == spark.read.parquet(wide, narrow).schema
    assert sorted(r["x"] for r in got.collect()) == [1, 2, 3]


def test_file_rewritten_in_place_never_gets_old_schema(spark, tmp_path):
    path = str(tmp_path / "f.parquet")
    _write(path, pa.table({"a": pa.array([1, 2, 3])}))
    old = scan_parquet(spark, path).schema
    assert scan_parquet(spark, path).schema == old
    _write(path, pa.table({"b": pa.array(["x"]), "c": pa.array([1.5])}))
    want = spark.read.parquet(path).schema
    assert want != old
    got = scan_parquet(spark, path)
    assert got.schema == want
    assert [tuple(r) for r in got.collect()] == [("x", 1.5)]


def test_binary_as_string_flip_changes_schema_like_spark(spark, tmp_path):
    path = _write(
        str(tmp_path / "bin.parquet"), pa.table({"b": pa.array([b"ab"])})
    )
    flag = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(flag, None)
    try:
        schemas = []
        for value in ("false", "true", "false"):
            spark.conf.set(flag, value)
            want = spark.read.parquet(path).schema
            assert scan_parquet(spark, path).schema == want
            assert scan_parquet(spark, path).schema == want
            schemas.append(want["b"].dataType.typeName())
        assert schemas == ["binary", "string", "binary"]
    finally:
        if prior is None:
            spark.conf.unset(flag)
        else:
            spark.conf.set(flag, prior)


def test_duplicate_row_group_units_return_no_duplicate_rows(spark, tmp_path):
    """A lost commit_build race leaves two entries whose index data both
    cover one file; the probe then names its units twice."""
    data = str(tmp_path / "data")
    _rows(spark, N_ROWS // 2).coalesce(1).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "idx"))
    idx = ExactIndex(granularity="row_group")
    lake.build_index(idx, "grp")
    first = lake.files
    lake.append(_rows(spark, N_ROWS // 2, lo=N_ROWS // 2).coalesce(1))
    files = lake.files
    # the losing build indexed both files; only the new one commits
    late = os.path.join(lake.index_dir, "exact_grp_late")
    idx.build(spark, files, "grp", late)
    committed = lake.catalog.commit_build(
        {
            "index_name": "exact_grp_late",
            "index_type": "exact",
            "column_name": "grp",
            "index_path": late,
            "file_paths": files,
            "record_counts": [N_ROWS // 2] * len(files),
            "config": IndexCatalog.config_json(**idx.config()),
        }
    )
    assert committed == [f for f in files if f not in first]

    paths = [e["index_path"] for e in lake.catalog.entries_for("exact", "grp")]
    cands = idx.search(spark, paths, 3)
    units = [(r["file_path"], r["row_group"]) for r in cands.collect()]
    assert len(units) > len(set(units)), "the race left no repeated unit"
    got_units = collect_candidates_bounded(
        cands, set(files), set(files), lake.brute_force_threshold
    )
    assert sorted(got_units) == sorted(set(units))

    scan = lake.read().filter(F.col("grp") == 3)
    want = sorted(tuple(r) for r in scan.collect())
    got = sorted(tuple(r) for r in lake.search(idx, "grp", 3).collect())
    assert got == want and len(set(got)) == len(got)
    k = 5
    limited = [tuple(r) for r in lake.search(idx, "grp", 3, k=k).collect()]
    assert len(limited) == k and set(limited) <= set(want)


def test_explain_search_counts_what_search_fetches(spark, tmp_path):
    """On a lake with a stale entry and a doubly covered file,
    explain_search's n_candidates is the number of units search fetched."""
    import rottnest_spark.core.lake as lake_mod

    data = str(tmp_path / "data")
    _rows(spark, N_ROWS // 2).repartition(2).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "idx"))
    idx = ExactIndex(granularity="row_group")
    lake.build_index(idx, "grp")
    first = lake.files
    lake.append(_rows(spark, N_ROWS // 2, lo=N_ROWS // 2).coalesce(1))
    files = lake.files
    late = os.path.join(lake.index_dir, "exact_grp_late")
    idx.build(spark, files, "grp", late)
    lake.catalog.commit_build(
        {
            "index_name": "exact_grp_late",
            "index_type": "exact",
            "column_name": "grp",
            "index_path": late,
            "file_paths": files,
            "record_counts": [1] * len(files),
            "config": IndexCatalog.config_json(**idx.config()),
        }
    )
    os.remove(first[0])  # its units are stale in both entries
    fetched = []
    real = lake_mod.ParquetLake._read_candidate_units

    def spy(self, cand_list, columns=None):
        fetched.append(list(cand_list))
        return real(self, cand_list, columns)

    lake_mod.ParquetLake._read_candidate_units = spy
    try:
        got = sorted(tuple(r) for r in lake.search(idx, "grp", 3).collect())
    finally:
        lake_mod.ParquetLake._read_candidate_units = real
    assert got == sorted(
        tuple(r) for r in lake.read().filter(F.col("grp") == 3).collect()
    )
    info = lake.explain_search(idx, "grp", 3)
    assert info["decision"] == "index_scan"
    assert info["n_candidates"] == len(fetched[0]) == len(set(fetched[0]))
    assert all(f in lake.files for f, _ in fetched[0])
    lake.brute_force_threshold = 1
    over = lake.explain_search(idx, "grp", 3)
    assert over["decision"] == "brute_force_threshold"
    assert over["n_candidates"] is None
