"""The driver-side probe (`SparkIndex.search_local`, over footer-pruned
pyarrow slices of the index tables) against the Spark probe (`search`):
identical unit lists and identical BRUTE_FORCE / empty / over-threshold
decisions for the exact, substring, BM25 and vector indexes — and every
search entry point equal to the full scan on the same lake.

The lake carries the cases a probe must get right: a stale entry (a data
file deleted after it was indexed), a file covered twice (a lost
`commit_build` race), keys on index row-group boundaries, the empty-string
key and binary keys."""

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import rottnest_spark.sources.reader as reader
from rottnest_spark import ParquetLake
from rottnest_spark.core.catalog import IndexCatalog
from rottnest_spark.core.planner import plan_search
from rottnest_spark.core.refine import collect_candidates_bounded
from rottnest_spark.indices.base import BRUTE_FORCE
from rottnest_spark.indices.bm25 import BM25Index, bm25_topk, bm25_topk_many
from rottnest_spark.indices.exact import ExactIndex, PrefixSearch
from rottnest_spark.indices.substring import SubstringIndex
from rottnest_spark.indices.vector import VectorIndex, knn_topk, knn_topk_many

N = 600
K = 10


def _rows(spark, n, lo=0):
    i = F.col("id")
    return spark.range(lo, lo + n).select(
        F.when(i == 0, F.lit("")).otherwise(F.format_string("key-%05d", i)).alias("key"),
        (i % 7).alias("grp"),
        F.unhex(F.format_string("%08X", i * 7919)).alias("bkey"),
        F.concat_ws(
            " ",
            F.lit("common"),
            F.format_string("tok%02d", i % 40),
            F.format_string("uniq%05dz", i),
        ).alias("text"),
        F.array(F.sin(i), F.cos(i), F.sin(i * 0.37)).alias("emb"),
        i.alias("rid"),
    )


def _small_row_groups(spark):
    """Index tables of a few dozen rows per row group, so probes cross
    row-group boundaries."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in (
        ("parquet.block.size", "8192"),
        ("parquet.block.size.row.check.min", "8"),
        ("parquet.block.size.row.check.max", "8"),
    ):
        hconf.set(k, v)
    return lambda: [
        hconf.unset(k)
        for k in (
            "parquet.block.size",
            "parquet.block.size.row.check.min",
            "parquet.block.size.row.check.max",
        )
    ]


INDEXES = {
    "key": ExactIndex(),
    "grp": ExactIndex(granularity="row_group"),
    "bkey": ExactIndex(),
    "text": SubstringIndex(granularity="row_group"),
    "bm25": BM25Index(),
    "emb": VectorIndex(rows_per_centroid=40, nprobes=4),
}


#: the indexes that also get a late entry covering one file twice
LATE = ("key", "text", "bm25", "emb")


def _column(name):
    return "text" if name == "bm25" else name


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("driver_probe")
    data = str(root / "data")
    _rows(spark, N).repartition(3).write.parquet(data)
    lake = ParquetLake(spark, data, str(root / "idx"))
    first = lake.files
    restore = _small_row_groups(spark)
    try:
        for name, idx in INDEXES.items():
            lake.build_index(idx, _column(name))
        lake.append(_rows(spark, N // 3, lo=N).coalesce(1))
        new = [f for f in lake.files if f not in first]
        # a lost commit_build race: the late build indexed an already
        # covered file too, and commits only the new one
        for name in LATE:
            idx = INDEXES[name]
            late = os.path.join(lake.index_dir, f"late_{name}")
            idx.build(spark, [first[-1]] + new, _column(name), late)
            assert lake.catalog.commit_build(
                {
                    "index_name": f"late_{name}",
                    "index_type": idx.index_type,
                    "column_name": _column(name),
                    "index_path": late,
                    "file_paths": [first[-1]] + new,
                    "record_counts": [1, 1],
                    "config": IndexCatalog.config_json(**idx.config()),
                }
            ) == new
    finally:
        restore()
    # a stale entry: an indexed file deleted from the lake
    os.remove(first[0])
    assert first[0] not in lake.files
    return lake


def _plan(lake, idx, column):
    plan = plan_search(
        lake.catalog,
        idx.index_type,
        column,
        lake.files,
        expect_config=IndexCatalog.config_json(**idx.config()),
    )
    assert len(plan.entries) == (2 if idx in map(INDEXES.get, LATE) else 1)
    return plan, [e["index_path"] for e in plan.entries]


def _units(cands):
    if isinstance(cands, list):
        return sorted(cands)
    return sorted((r["file_path"], r["row_group"]) for r in cands.collect())


def parity(spark, lake, name, query, threshold=None):
    """Probe both ways; assert identical units and bounded-collect
    decisions; return the driver's bounded unit list (or BRUTE_FORCE)."""
    idx, column = INDEXES[name], _column(name)
    plan, paths = _plan(lake, idx, column)
    local = idx.search_local(spark, paths, query)
    remote = idx.search(spark, paths, query)
    assert local is not None, "the probe did not run on the driver"
    if local is BRUTE_FORCE or remote is BRUTE_FORCE:
        assert local is remote
        return BRUTE_FORCE
    assert _units(local) == _units(remote)
    bound = (
        {f for e in plan.entries for f in e["file_paths"]},
        set(plan.covered_files),
        lake.brute_force_threshold if threshold is None else threshold,
    )
    got = collect_candidates_bounded(local, *bound)
    want = collect_candidates_bounded(remote, *bound)
    assert (got is None) == (want is None)
    if got is not None:
        assert sorted(got) == sorted(want)
        assert all(f in plan.covered_files for f, _ in got)
    return got


def _ids(df):
    return sorted(r["rid"] for r in df.select("rid").collect())


def _oracle(lake, column, pred):
    return _ids(lake.read().filter(pred))


def _by_query(df, value):
    """{__query__: [(rid, value)]} of a batched top-K result."""
    out = {}
    for r in df.collect():
        out.setdefault(r["__query__"], []).append((r["rid"], r[value]))
    return out


def test_exact_parity_and_full_scan_equality(spark, lake):
    idx = INDEXES["key"]
    live = [r["key"] for r in lake.read().select("key").collect()]
    queries = [live[1], live[-1], "", "key-00000", "key-99999", "key-00200"]
    for q in queries:
        units = parity(spark, lake, "key", q)
        want = _oracle(lake, "key", F.col("key") == q)
        assert _ids(lake.search(idx, "key", q)) == want
        limited = _ids(lake.search(idx, "key", q, k=K))
        assert len(limited) == min(K, len(want)) and set(limited) <= set(want)
        assert (units == []) == (want == [])
    # "" is a live key; the deleted file's keys are stale units
    assert parity(spark, lake, "key", "") != []
    assert parity(spark, lake, "key", "key-00000") == []


def _boundary_keys(paths):
    """Min and max key of every row group of the key tables, and the
    number of row groups."""
    keys, n_groups = set(), 0
    for p in paths:
        for leaf in os.listdir(f"{p}/keys"):
            if leaf.startswith(("_", ".")):
                continue
            md = pq.read_metadata(f"{p}/keys/{leaf}")
            ci = md.schema.names.index("key")
            n_groups += md.num_row_groups
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(ci).statistics
                keys |= {st.min, st.max}
    return keys, n_groups


def test_exact_keys_on_row_group_boundaries(spark, lake):
    for name in ("key", "grp"):
        _, paths = _plan(lake, INDEXES[name], name)
        keys, n_groups = _boundary_keys(paths)
        if name == "key":
            assert n_groups > len(paths), "key tables have one row group each"
        for q in sorted(keys)[:12]:
            parity(spark, lake, name, q)
    # a low-cardinality key spans row groups, units repeat across entries
    got = parity(spark, lake, "grp", 3)
    want = _oracle(lake, "grp", F.col("grp") == 3)
    assert _ids(lake.search(INDEXES["grp"], "grp", 3)) == want
    assert len(got) == len(set(got)) > 1


def test_exact_binary_keys(spark, lake):
    idx = INDEXES["bkey"]
    live = [bytes(r["bkey"]) for r in lake.read().select("bkey").limit(3).collect()]
    for q in live + [b"\xff\xff\xff\xff"]:
        parity(spark, lake, "bkey", q)
        want = _oracle(lake, "bkey", F.col("bkey") == F.lit(q))
        assert _ids(lake.search(idx, "bkey", q)) == want


def test_exact_types_arrow_cannot_compare_take_spark(spark, lake):
    idx = INDEXES["grp"]
    _, paths = _plan(lake, idx, "grp")
    for q in (3.0, True, None, 2**70, ("a", "b")):
        assert idx.search_local(spark, paths, q) is None


def test_substring_parity_and_decisions(spark, lake):
    idx = INDEXES["text"]
    # a rare literal, a literal in the stale file, an absent gram, shorter
    # than the gram size, the empty string, a gram in every unit
    assert len(parity(spark, lake, "text", "uniq00017z")) >= 1
    parity(spark, lake, "text", "uniq00000z")  # a row of the deleted file
    assert parity(spark, lake, "text", "qqqxyzzy") == []
    assert parity(spark, lake, "text", "ab") is BRUTE_FORCE
    assert parity(spark, lake, "text", "") is BRUTE_FORCE
    assert parity(spark, lake, "text", "common") is BRUTE_FORCE
    # over the threshold: the same None from both probes
    assert parity(spark, lake, "text", "uniq00017z", threshold=0) is None
    for q in ("uniq00017z", "UNIQ0062", "tok13 uniq"):
        want = _oracle(
            lake, "text", F.contains(F.lower("text"), F.lit(q.lower()))
        )
        got = _ids(lake.search(idx, "text", q))
        assert got == want and got


def test_substring_max_query_grams_cut(spark, lake):
    idx = INDEXES["text"]
    _, paths = _plan(lake, idx, "text")
    idx.max_query_grams = 2
    try:
        q = "tok17 uniq00017z"
        local = idx.search_local(spark, paths, q)
        assert local and _units(local) == _units(idx.search(spark, paths, q))
    finally:
        idx.max_query_grams = 10


def test_bm25_parity_stats_and_topk(spark, lake):
    idx = INDEXES["bm25"]
    _, paths = _plan(lake, idx, "text")
    for q in ("tok05 uniq00100z", "common", "nosuchtoken", ""):
        parity(spark, lake, "bm25", q)
        toks = idx.tokenizer.query_tokens(q)
        dfs, n, tl = idx.stats_local(paths, toks)
        st, n2, tl2 = idx.stats(spark, paths, toks)
        assert (n, tl) == (n2, tl2)
        assert dfs == {r["token"]: r["df"] for r in st.collect()}
    q = "tok05 uniq00100z common"
    driver = [tuple(r) for r in bm25_topk(lake, idx, "text", q, K, "rid").collect()]
    with _budget(0):
        spark_rows = [
            tuple(r) for r in bm25_topk(lake, idx, "text", q, K, "rid").collect()
        ]
    assert driver == spark_rows and len(driver) == K


def test_vector_parity_and_dimension_mismatch(spark, lake):
    idx = INDEXES["emb"]
    _, paths = _plan(lake, idx, "emb")
    for q in ([0.1, 0.9, -0.2], [1.0, 0.0, 0.0], [0.0, 0.0, 0.0]):
        assert idx.nearest_centroids_local(paths, q) == idx.nearest_centroids(
            spark, paths, q
        )
        assert parity(spark, lake, "emb", q)
    for bad in ([0.1, 0.2], [0.1, 0.2, 0.3, 0.4]):
        with pytest.raises(ValueError) as on_spark:
            idx.nearest_centroids(spark, paths, bad)
        with pytest.raises(ValueError) as on_driver:
            idx.search_local(spark, paths, bad)
        assert str(on_driver.value) == str(on_spark.value)
    q = [0.3, -0.4, 0.5]
    driver = [tuple(r) for r in knn_topk(lake, idx, "emb", q, K, "rid").collect()]
    with _budget(0):
        spark_rows = [tuple(r) for r in knn_topk(lake, idx, "emb", q, K, "rid").collect()]
    assert driver == spark_rows and len(driver) == K


class _budget:
    """Set the driver probe's byte budget for a block."""

    def __init__(self, n):
        self.n = n

    def __enter__(self):
        self.old, reader._SLICE_BUDGET = reader._SLICE_BUDGET, self.n

    def __exit__(self, *exc):
        reader._SLICE_BUDGET = self.old


def test_over_budget_takes_the_spark_path(spark, lake):
    cases = [("key", lake.read().select("key").collect()[5]["key"]),
             ("text", "uniq00017z"), ("bm25", "tok05"), ("emb", [0.1, 0.9, -0.2])]
    for name, q in cases:
        idx, column = INDEXES[name], _column(name)
        _, paths = _plan(lake, idx, column)
        local = idx.probe(spark, paths, q)
        assert isinstance(local, list) and local, (name, q, idx.search_local(spark, paths, q))
        with _budget(0):
            assert idx.search_local(spark, paths, q) is None
            remote = idx.probe(spark, paths, q)
            assert not isinstance(remote, list)
            assert _units(remote) == _units(local)
            if name in ("key", "text"):
                # and search() still answers exactly
                pred = idx.predicate(column, q)
                want = _oracle(lake, column, pred)
                assert _ids(lake.search(idx, column, q)) == want


def test_unreadable_index_path_takes_the_spark_path(spark, tmp_path):
    assert reader.read_index_slice([str(tmp_path / "missing")], "k", [1], ["k"]) is None
    assert reader.read_index_slice(["relative/path"], "k", [1], ["k"]) is None


def test_entry_points_equal_brute_force(spark, lake):
    """Every entry point returns the full-scan answer on this lake, with
    its stale entry and doubly covered file: search_many, single-spec
    search_disj and search_conj, and count_matches for a point hit, a
    point miss, a key of the deleted file and a substring; the batched
    top-K drivers equal their single-query forms query by query."""
    hit = lake.read().select("key").collect()[7]["key"]
    for name, queries in (
        ("key", [hit, "key-99999", "key-00000"]),
        ("text", ["uniq00017z", "uniq00000z", "tok13 uniq"]),
    ):
        idx, column = INDEXES[name], _column(name)
        many = lake.search_many(idx, column, queries)
        for q in queries:
            want = _oracle(lake, column, idx.predicate(column, q))
            assert _ids(many.filter(F.col("__query__") == q)) == want, q
            assert _ids(lake.search_disj([(idx, column, q)])) == want, q
            assert _ids(lake.search_conj([(idx, column, q)])) == want, q
            assert lake.count_matches(idx, column, q) == len(want), q

    idx = INDEXES["bm25"]
    queries = ["tok05 uniq00100z", "common tok13", "nosuchtoken"]
    many = _by_query(bm25_topk_many(lake, idx, "text", queries, K, "rid"), "score")
    for q in queries:
        one = bm25_topk(lake, idx, "text", q, K, "rid").collect()
        one = [(r["rid"], r["score"]) for r in one]
        assert sorted(many.get(q, [])) == sorted(one), q

    idx = INDEXES["emb"]
    vecs = {"a": [0.3, -0.4, 0.5], "b": [0.9, 0.1, 0.0], "c": [-0.5, 0.5, 0.2]}
    many = _by_query(knn_topk_many(lake, idx, "emb", vecs, K, "rid"), "dist")
    for qid, vec in vecs.items():
        one = knn_topk(lake, idx, "emb", vec, K, "rid").collect()
        one = [(r["rid"], r["dist"]) for r in one]
        assert sorted(many[qid]) == sorted(one) and len(one) == K, qid
    # an empty batch is an empty tagged frame
    assert lake.search_many(INDEXES["key"], "key", []).collect() == []
    empty = knn_topk_many(lake, idx, "emb", {}, K, "rid")
    assert empty.columns == ["rid", "__query__", "dist"] and empty.collect() == []


def test_batched_spark_probe_is_one_pass_in_query_order(spark, lake):
    """Over the driver budget, an index's search_many answers each query
    in query order with search()'s units — repeated queries, a range
    beside point keys, token lists and vectors included — and the
    batched top-K drivers probe in one search_many pass, never one
    search per query, with the same rows as their single-query forms."""
    hit = lake.read().select("key").collect()[7]["key"]
    cases = {
        "key": [hit, "key-99999", ("key-00100", "key-00140"), hit],
        "text": ["uniq00017z", "tok13 uniq", "uniq00017z"],
        "bm25": [["tok05", "uniq00100z"], ["common"], ["nosuchtoken"], ["tok05"]],
        "emb": [[0.3, -0.4, 0.5], [0.9, 0.1, 0.0], [0.3, -0.4, 0.5]],
    }
    with _budget(0):
        for name, queries in cases.items():
            idx, column = INDEXES[name], _column(name)
            _, paths = _plan(lake, idx, column)
            many = idx.search_many(spark, paths, queries)
            assert len(many) == len(queries)
            for q, got in zip(queries, many):
                want = idx.search(spark, paths, q)
                if want is BRUTE_FORCE or got is BRUTE_FORCE:
                    assert got is want, (name, q)
                else:
                    assert _units(got) == _units(want), (name, q)

    calls = []

    class Counting:
        def __init__(self, idx):
            self.idx = idx

        def __enter__(self):
            for name in ("search", "search_many"):
                orig = getattr(self.idx, name)
                setattr(self.idx, name, lambda *a, n=name, f=orig: calls.append(n) or f(*a))

        def __exit__(self, *exc):
            del self.idx.search, self.idx.search_many

    queries = ["tok05 uniq00100z", "common tok13", "nosuchtoken"]
    idx = INDEXES["bm25"]
    with _budget(0):
        with Counting(idx):
            many = _by_query(bm25_topk_many(lake, idx, "text", queries, K, "rid"), "score")
        assert calls == ["search_many"]
        for q in queries:
            one = bm25_topk(lake, idx, "text", q, K, "rid").collect()
            assert sorted(many.get(q, [])) == sorted((r["rid"], r["score"]) for r in one), q

    calls.clear()
    vecs = {"a": [0.3, -0.4, 0.5], "b": [0.9, 0.1, 0.0]}
    idx = INDEXES["emb"]
    with _budget(0):
        with Counting(idx):
            many = _by_query(knn_topk_many(lake, idx, "emb", vecs, K, "rid"), "dist")
        assert calls == ["search_many"]
        for qid, vec in vecs.items():
            one = knn_topk(lake, idx, "emb", vec, K, "rid").collect()
            assert sorted(many[qid]) == sorted((r["rid"], r["dist"]) for r in one), qid


def test_prefix_specs_probe_as_prefixes(spark, lake):
    """PrefixSearch rides the exact index's tables: batched and in a
    disjunction beside an ExactIndex spec, each prefix still probes as a
    prefix, never as a whole key."""
    exact, prefix = INDEXES["key"], PrefixSearch()
    many = lake.search_many(prefix, "key", ["key-001", "key-0062"])
    for q in ("key-001", "key-0062"):
        want = _oracle(lake, "key", F.col("key").startswith(q))
        assert _ids(many.filter(F.col("__query__") == q)) == want and want
    specs = [(exact, "key", "key-00300"), (prefix, "key", "key-0010"),
             (prefix, "key", "key-0062")]
    want = _oracle(
        lake,
        "key",
        (F.col("key") == "key-00300")
        | F.col("key").startswith("key-0010")
        | F.col("key").startswith("key-0062"),
    )
    assert _ids(lake.search_disj(specs)) == want
