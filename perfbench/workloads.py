"""The two workloads. Each one builds its tables from the seed, warms every
operation kind up on them, then runs a fixed, seeded operation sequence in a
closed loop (one client thread): whole rounds, their number set by
--seconds."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from perfbench.data import DataGen, LiveRows
from perfbench.report import sizes, tree_bytes, written

K = 10


def _stage(batch, path: str, files: int = 1) -> str:
    """Write a generated batch as Parquet outside every table (the change
    feed a user would land) and return its directory."""
    os.makedirs(path, exist_ok=True)
    step = -(-batch.num_rows // files)
    for i in range(files):
        pq.write_table(
            batch.slice(i * step, step), os.path.join(path, f"part-{i}.parquet")
        )
    return path


class Workload:
    name = ""
    REPS = 3  # set-up repetitions; setup_s reports their median

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.write_samples: list[dict] = []
        self.rep_times: list[float] = []

    # -- query kinds -----------------------------------------------------

    def exact_query(self, kind, lake, index, column, q, expected):
        def run():
            t0 = time.perf_counter()
            with self.b.tracer.span("core.lake.search_call"):
                df = lake.search(index, column, q, k=K)
            t1 = time.perf_counter()
            with self.b.tracer.span("core.lake.result_collect"):
                rows = df.collect()
            return {"rows": [r["rid"] for r in rows], "call_s": t1 - t0,
                    "collect_s": time.perf_counter() - t1}

        return self.b.op(
            kind, run,
            check=lambda r: LiveRows.check_exact(r["rows"], expected, K),
            query=str(q),
        )

    # -- phases ----------------------------------------------------------

    def setup(self) -> None:
        """REPS identical set-ups into fresh directories; setup_s is their
        median. The first runs on a cold JVM, then warms every operation
        kind up on its own tables. Those tables are kept for the window, so
        it starts on a warmed state; the later set-ups are timed and
        dropped."""
        kept = None
        for rep in range(self.REPS):
            self.b.phase = "warmup" if rep == 0 else "setup"
            t = time.perf_counter()
            state = self.build_state(f"rep{rep}")
            if rep == 0:
                self.__dict__.update(state)
                self.warmup()
                kept = {k: getattr(self, k) for k in state}
            self.rep_times.append(time.perf_counter() - t)
        self.__dict__.update(kept)

    def warmup(self) -> None:
        pass

    @property
    def setup_s(self) -> float:
        return statistics.median(self.rep_times)

    def window(self, seconds: float) -> None:
        """The measured window: a fixed number of whole rounds, one per
        ROUND_S of ``seconds``, so every run of a seed does the same work
        whatever the host's speed (a faster commit must not grow the
        tables it is measured on)."""
        self.b.phase = "window"
        self.rounds_run = max(1, round(seconds / self.ROUND_S))
        t0 = time.perf_counter()
        for i in range(self.rounds_run):
            self.round(i)
        self.window_s = time.perf_counter() - t0

    def epilogue(self) -> None:
        pass

    def traced_epilogue(self) -> None:
        """Work that only the per-layer table needs. It runs in traced runs
        only, after storage() is measured, so it moves no end-to-end
        metric."""


class Lookup(Workload):
    """A fully indexed lake serving a fixed seeded query mix; no writes
    during the measured window. Its writes are the set-up commits."""

    name = "lookup"
    ROUND_S = 8.0
    ROWS = 2000
    FILES = 2
    # one round: 4 point hits, 1 point miss, 3 substring, 2 top-10. Top-10
    # queries are the slowest kind; at a fifth of the queries the p90 tail
    # falls inside their population, not on its edge.
    ROUND = ("point", "substring", "point", "bm25", "miss",
             "point", "substring", "vector", "point", "substring")

    def indexes(self):
        from rottnest_spark.indices.bm25 import BM25Index
        from rottnest_spark.indices.exact import ExactIndex
        from rottnest_spark.indices.substring import SubstringIndex
        from rottnest_spark.indices.vector import VectorIndex

        return {
            "exact": (ExactIndex(), "key"),
            "substring": (SubstringIndex(granularity="row_group"), "text"),
            "bm25": (BM25Index(), "text"),
            "vector": (VectorIndex(rows_per_centroid=256, nprobes=8), "emb"),
        }

    def warmup(self) -> None:
        """One query of each kind; on the kept lake this also fills the
        footer and listing caches a user's first queries would fill once."""
        for kind in ("point", "miss", "substring", "bm25", "vector"):
            self.query(kind)

    def build_state(self, tag: str) -> dict:
        """Commit the generated rows with ``append`` and build the four
        indexes: one write, timed as one operation."""
        from rottnest_spark import ParquetLake

        gen = DataGen(self.b.seed, "lookup")
        batch = gen.rows(self.ROWS)
        d = os.path.join(self.b.work, tag)
        lake_dir, idx_dir = os.path.join(d, "lake"), os.path.join(d, "idx")
        os.makedirs(lake_dir)
        src = self.spark.read.parquet(
            _stage(batch, os.path.join(d, "feed"), self.FILES)
        )
        lake = ParquetLake(self.spark, lake_dir, idx_dir)
        idx = self.indexes()

        def write():
            hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
            # small row groups so row-group granularity has units to prune
            hconf.setInt("parquet.block.size", 128 * 1024)
            try:
                with self.b.tracer.span("core.lake.append"):
                    lake.append(src)
            finally:
                hconf.unset("parquet.block.size")
            for index, column in idx.values():
                with self.b.tracer.span("core.lake.build_index"):
                    lake.build_index(index, column)

        self.b.op("write", write)
        if self.b.phase == "setup":  # the cold first set-up is no sample
            self.write_samples.append({
                "s": self.b.ops[-1]["s"], "rows": batch.num_rows, "fmt": "parquet",
                "user_bytes": batch.nbytes,
                "bytes": tree_bytes([lake_dir, idx_dir]),
            })
        return {"lake": lake, "idx": idx, "model": LiveRows(batch), "gen": gen,
                "dir": d}

    def query(self, kind: str):
        gen, model, lake = self.gen, self.model, self.lake
        if kind in ("point", "miss"):
            key = gen.pick(model.live_keys)[0] if kind == "point" else gen.keys(1)[0]
            index, column = self.idx["exact"]
            return self.exact_query("point", lake, index, column, key, model.point(key))
        if kind == "substring":
            lit = gen.pick(gen.rare_tokens)[0]
            index, column = self.idx["substring"]
            return self.exact_query(
                "substring", lake, index, column, lit, model.substring(lit)
            )
        return self.topk_query(kind)

    def topk_query(self, kind: str):
        from rottnest_spark.indices.bm25 import bm25_topk
        from rottnest_spark.indices.vector import knn_topk

        if kind == "bm25":
            q = self.gen.bm25_query()
            index, column = self.idx["bm25"]
            truth, desc = self.model.bm25_truth(q), True
            topk = bm25_topk
        else:
            q = self.gen.vector_query()
            index, column = self.idx["vector"]
            truth, desc = self.model.vector_truth(q), False
            topk = knn_topk

        def run():
            t0 = time.perf_counter()
            with self.b.tracer.span(f"indices.{kind}.topk_call"):
                df = topk(self.lake, index, column, q, K, "rid")
            t1 = time.perf_counter()
            with self.b.tracer.span("core.lake.result_collect"):
                rows = df.collect()
            return {"rows": [(r[0], float(r[1])) for r in rows],
                    "call_s": t1 - t0, "collect_s": time.perf_counter() - t1}

        def check(r):
            reason, recall = LiveRows.check_topk(
                r["rows"], truth, K, descending=desc, exact=(kind == "bm25")
            )
            r["recall"] = recall
            return reason

        return self.b.op("topk", run, check=check, engine=kind)

    def round(self, i: int) -> None:
        for kind in self.ROUND:
            self.query(kind)

    def traced_epilogue(self) -> None:
        """The incremental index path, for the per-layer table: append a
        batch, build every index over it, compact each index's entries and
        vacuum. A point and a substring search on the compacted lake are
        checked against the model."""
        batch = self.gen.rows(self.ROWS // 10)
        src = self.spark.read.parquet(
            _stage(batch, os.path.join(self.dir, "feed-epilogue"))
        )
        lake = self.lake

        def maintain():
            with self.b.tracer.span("core.lake.append"):
                lake.append(src)
            for index, column in self.idx.values():
                with self.b.tracer.span("core.lake.build_index"):
                    lake.build_index(index, column)
            for index, column in self.idx.values():
                with self.b.tracer.span("core.lake.compact_indices"):
                    lake.compact_indices(index, column)
            with self.b.tracer.span("core.lake.vacuum"):
                lake.vacuum()

        self.b.phase = "epilogue"
        self.b.op("maintenance", maintain, table="parquet")
        self.model.upsert(batch)
        self.query("point")
        self.query("substring")

    def storage(self) -> dict:
        lake_dir = os.path.join(self.dir, "lake")
        idx_dir = os.path.join(self.dir, "idx")
        data = sum(os.path.getsize(f) for f in self.lake.files)
        index_paths = [e["index_path"] for e in self.lake.catalog.entries()]
        by_type: dict[str, int] = {}
        for e in self.lake.catalog.entries():
            by_type[e["index_type"]] = by_type.get(e["index_type"], 0) + tree_bytes(
                [e["index_path"]]
            )
        return {
            "data_bytes": data,
            "index_bytes": tree_bytes(index_paths),
            "index_bytes_by_type": by_type,
            "disk_bytes": tree_bytes([lake_dir, idx_dir]),
            "live_user_bytes": self.model.table.nbytes,
        }


class Ingest(Workload):
    """A keyed change stream into a Delta table and an Iceberg v3 table.
    Each cycle lands one batch (half updates of live keys, half new keys)
    in both tables: upsert, query while the change files are unindexed
    (merge-on-read), refresh the index, query again. After the window a
    full read of each table is checked against the model. Maintenance
    (rewrite-deletes, index compaction, vacuum) runs in traced runs only,
    once per table."""

    name = "ingest"
    ROUND_S = 12.0
    ROWS = 4000
    BATCH = 400
    FORMATS = ("delta", "iceberg")

    def _lakes(self, d: str, df, fmt: str):
        from rottnest_spark.sources.delta import DeltaSnapshotLake
        from rottnest_spark.sources.delta_write import delta_write
        from rottnest_spark.sources.iceberg import IcebergSnapshotLake
        from rottnest_spark.sources.iceberg_write import iceberg_write

        path = os.path.join(d, fmt)
        if fmt == "delta":
            with self.b.tracer.span("sources.delta_write.write"):
                delta_write(df, path)
            return DeltaSnapshotLake(self.spark, path, path + "_idx")
        with self.b.tracer.span("sources.iceberg_write.write"):
            iceberg_write(df, path)
        return IcebergSnapshotLake(self.spark, path, path + "_idx")

    def build_state(self, tag: str) -> dict:
        from rottnest_spark.indices.exact import ExactIndex

        gen = DataGen(self.b.seed, "ingest")
        batch = gen.rows(self.ROWS, embed=False)
        d = os.path.join(self.b.work, tag)
        df = self.spark.read.parquet(_stage(batch, os.path.join(d, "feed"), 2))
        lakes = {}

        def load():
            for fmt in self.FORMATS:
                lakes[fmt] = self._lakes(d, df, fmt)
                with self.b.tracer.span("core.lake.build_index"):
                    lakes[fmt].build_index(ExactIndex(), "key")

        self.b.op("load", load)
        return {"lakes": lakes, "model": LiveRows(batch), "gen": gen, "dir": d,
                "cycle_no": 0}

    def warmup(self) -> None:
        """One cycle. On the kept tables it also means that every measured
        upsert lands on a table that already carries deletion vectors (the
        first upsert into a fresh table skips the DV merge and is twice as
        fast; mixing it in would make the write median bimodal)."""
        self.cycle(0)

    def round(self, i: int) -> None:
        self.cycle(i)

    def upsert(self, fmt: str, df) -> None:
        from rottnest_spark.sources.delta_write import delta_upsert
        from rottnest_spark.sources.iceberg_write import iceberg_v3_upsert

        path = os.path.join(self.dir, fmt)
        if fmt == "delta":
            with self.b.tracer.span("sources.delta_write.upsert"):
                delta_upsert(self.spark, df, path, ["key"])
        else:
            with self.b.tracer.span("sources.iceberg_write.v3_upsert"):
                iceberg_v3_upsert(self.spark, df, path, ["key"])

    def next_batch(self):
        """The next change batch (half updates of live keys, half new keys),
        landed as a Parquet feed and applied to the model."""
        gen = self.gen
        n = self.BATCH
        updated = gen.pick(self.model.live_keys, n // 2)
        fresh = gen.keys(n - n // 2)
        before_rare = len(gen.rare_tokens)
        rows = gen.rows(n, keys=updated + fresh, embed=False)
        rare = gen.rare_tokens[before_rare:]
        feed = _stage(rows, os.path.join(self.dir, f"batch{self.cycle_no}"))
        self.cycle_no += 1
        self.model.upsert(rows)
        return self.spark.read.parquet(feed), rows, updated, fresh, rare

    def write(self, fmt: str, df, rows, between=None) -> None:
        """Upsert plus index refresh on one table: one write, timed as two
        operations. ``between`` runs after the commit, before the refresh."""
        lake = self.lakes[fmt]
        roots = [os.path.join(self.dir, fmt), os.path.join(self.dir, fmt + "_idx")]
        before = {}
        for r in roots:
            before.update(sizes(r))
        self.b.op("write.commit", lambda: self.upsert(fmt, df))
        t_commit = self.b.ops[-1]["s"]
        if between is not None:
            between()

        def refresh():
            with self.b.tracer.span("core.lake.refresh_indices"):
                lake.refresh_indices()

        self.b.op("write.index", refresh)
        t_index = self.b.ops[-1]["s"]
        after = {}
        for r in roots:
            after.update(sizes(r))
        nbytes, nfiles = written(before, after)
        if self.b.phase == "window":
            self.write_samples.append({
                "s": t_commit + t_index, "rows": rows.num_rows, "fmt": fmt,
                "user_bytes": rows.nbytes, "bytes": nbytes, "files": nfiles,
                "commit_s": t_commit, "index_s": t_index,
            })

    def cycle(self, i: int) -> None:
        from rottnest_spark.indices.exact import ExactIndex
        from rottnest_spark.indices.substring import SubstringIndex

        gen, model = self.gen, self.model
        df, rows, updated, _, rare = self.next_batch()
        for fmt in self.FORMATS:
            lake = self.lakes[fmt]
            # lookups of updated keys: the old version sits in an indexed
            # file under a deletion vector, the new one in the change file,
            # unindexed until the refresh ("tail") and indexed after it
            key = gen.pick(updated)[0]
            self.write(fmt, df, rows, between=lambda: self.exact_query(
                "tail", lake, ExactIndex(), "key", key, model.point(key)))
            for key in gen.pick(updated, 2):
                self.exact_query("point", lake, ExactIndex(), "key", key,
                                 model.point(key))
            lit = gen.pick(rare if rare else gen.rare_tokens)[0]
            self.exact_query("substring", lake, SubstringIndex(), "text",
                             lit, model.substring(lit))

    def check(self, fmt: str) -> None:
        """A full read of one table, compared with the model."""
        lake = self.lakes[fmt]
        want = sorted(int(r) for r in self.model.rids)

        def full_read():
            return [r["rid"] for r in lake.read().select("rid").collect()]

        self.b.op(
            "check",
            full_read,
            check=lambda got: None
            if sorted(got) == want
            else f"table holds {len(got)} rows, model {len(want)}",
            table=fmt,
        )

    def epilogue(self) -> None:
        self.b.phase = "epilogue"
        for fmt in self.FORMATS:
            self.check(fmt)

    def traced_epilogue(self) -> None:
        """Maintenance, once per table: rewrite-deletes, index refresh,
        index compaction and vacuum; then the full-table check again."""
        from rottnest_spark.indices.exact import ExactIndex
        from rottnest_spark.sources.delta_write import delta_rewrite_deletes
        from rottnest_spark.sources.iceberg_write import iceberg_v3_rewrite_deletes

        for fmt in self.FORMATS:
            lake = self.lakes[fmt]
            path = os.path.join(self.dir, fmt)

            def maintain():
                if fmt == "delta":
                    with self.b.tracer.span("sources.delta_write.rewrite_deletes"):
                        delta_rewrite_deletes(self.spark, path)
                else:
                    with self.b.tracer.span(
                        "sources.iceberg_write.v3_rewrite_deletes"
                    ):
                        iceberg_v3_rewrite_deletes(self.spark, path)
                with self.b.tracer.span("core.lake.refresh_indices"):
                    lake.refresh_indices()
                with self.b.tracer.span("core.lake.compact_indices"):
                    lake.compact_indices(ExactIndex(), "key")
                with self.b.tracer.span("core.lake.vacuum"):
                    lake.vacuum()

            self.b.op("maintenance", maintain, table=fmt)
            self.check(fmt)

    def data_files(self, fmt: str) -> list[str]:
        """The table's data files, rows under deletion vectors included
        (the lakes' own ``files`` refuse a table that carries deletes).
        Iceberg: every data file under ``data/``. Merge-on-read upserts add
        files and mark replaced rows; they remove no file, so before
        maintenance these are the live files."""
        from rottnest_spark.sources.delta import delta_live_adds

        path = os.path.join(self.dir, fmt)
        if fmt == "delta":
            return list(delta_live_adds(path))
        return [p for p in sizes(os.path.join(path, "data"))
                if p.endswith(".parquet")
                and not os.path.basename(p).startswith("delete-")]

    def storage(self) -> dict:
        data = idx = disk = 0
        by_type: dict[str, int] = {}
        for fmt, lake in self.lakes.items():
            data += sum(os.path.getsize(f) for f in self.data_files(fmt))
            paths = [e["index_path"] for e in lake.catalog.entries()]
            b = tree_bytes(paths)
            idx += b
            by_type["exact"] = by_type.get("exact", 0) + b
            disk += tree_bytes(
                [os.path.join(self.dir, fmt), os.path.join(self.dir, fmt + "_idx")]
            )
        return {
            "data_bytes": data,
            "index_bytes": idx,
            "index_bytes_by_type": by_type,
            "disk_bytes": disk,
            "live_user_bytes": self.model.table.nbytes * len(self.FORMATS),
        }


WORKLOADS = {w.name: w for w in (Lookup, Ingest)}
