"""Spans and counters recorded from outside the library.

``Tracer`` keeps spans in memory (name, start, end, parent, operation id) and
writes them out once, at the end. ``install`` wraps public functions of the
library at run time, in the namespaces the library looks them up in (for
example ``plan_search`` where ``core.lake`` imported it); no source file is
edited. With tracing off, ``NullTracer`` makes every span a no-op and nothing
is patched.

Spark work is attributed through the event log: each operation runs under
its own job group, and jobs started on pooled threads (which do not inherit
the group) are attributed by submission time and counted as unattributed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._main = threading.main_thread()
        self._stack: list[int] = []  # open spans of the client thread
        self._op: str | None = None
        self._lock = threading.Lock()

    def begin_op(self, op_id: str | None) -> None:
        self._op = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields the span's counter dict, for the caller to fill."""
        on_main = threading.current_thread() is self._main
        # a pooled thread works on behalf of the client's innermost span
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
            "op": self._op,
            "counters": {},
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        if on_main:
            self._stack.append(rec["id"])
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.perf_counter()
            if on_main:
                self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- runtime wrappers -----------------------------------------------------


def _wrap(fn, tracer: Tracer, name, after=None):
    """``name`` is a string or a callable(args) -> string; ``after`` is
    called with (counters, args, result) to record counters."""
    if getattr(fn, "_perfbench_wrapped", False):
        return fn

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span_name = name(args) if callable(name) else name
        with tracer.span(span_name) as c:
            out = fn(*args, **kwargs)
            if after is not None:
                after(c, args, out)
            return out

    wrapper._perfbench_wrapped = True
    return wrapper


def _patch_everywhere(original, wrapped) -> None:
    """Rebind ``original`` to ``wrapped`` in every loaded rottnest_spark
    module that imported it by name (the lookup sites)."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("rottnest_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapped)


def install(tracer: Tracer) -> None:
    """Wrap the library's layer boundaries for the rest of the process."""
    import rottnest_spark.core.catalog as catalog
    import rottnest_spark.core.layout as layout
    import rottnest_spark.core.planner as planner
    import rottnest_spark.core.refine as refine
    import rottnest_spark.sources.delta as delta
    import rottnest_spark.sources.iceberg as iceberg
    import rottnest_spark.sources.reader as reader
    from rottnest_spark.indices.base import SparkIndex
    from rottnest_spark.indices.bm25 import BM25Index
    from rottnest_spark.indices.exact import ExactIndex
    from rottnest_spark.indices.substring import SubstringIndex
    from rottnest_spark.indices.vector import VectorIndex

    def module_fn(mod, attr, name, after=None):
        orig = getattr(mod, attr)
        _patch_everywhere(orig, _wrap(orig, tracer, name, after))

    def method(cls, attr, name, after=None):
        setattr(cls, attr, _wrap(cls.__dict__[attr], tracer, name, after))

    def plan_counts(c, args, plan):
        c["unindexed_files"] = len(plan.unindexed_files)
        c["entries"] = len(plan.entries)

    def cand_counts(c, args, units):
        if units is None:
            c["fallback"] = 1
        else:
            c["units"] = len(units)

    def read_counts(c, args, out):
        files = args[1] if len(args) > 1 else []
        c["files"] = len(files)

    module_fn(planner, "plan_search", "core.planner.plan_search", plan_counts)
    module_fn(
        refine, "collect_candidates_bounded", "core.refine.collect_bounded",
        cand_counts,
    )
    module_fn(refine, "read_candidates", "core.refine.read_candidates")
    module_fn(layout, "file_row_counts", "core.layout.file_row_counts")
    module_fn(reader, "read_parquet", "sources.reader.read", read_counts)
    module_fn(reader, "read_parquet_tagged", "sources.reader.read", read_counts)
    module_fn(delta, "_delta_live_state", "sources.delta.live_state")
    module_fn(
        iceberg, "snapshot_state_from_metadata", "sources.iceberg.snapshot_state"
    )
    method(catalog.IndexCatalog, "entries", "core.catalog.read")
    for attr in ("commit_build", "replace", "delete"):
        method(catalog.IndexCatalog, attr, "core.catalog.commit")

    def by_type(kind):
        return lambda args: f"indices.{args[0].index_type}.{kind}"

    probes = {
        ExactIndex: ("search", "search_many", "count_key"),
        SubstringIndex: ("search", "search_many"),
        BM25Index: ("search_tokens", "stats"),
        VectorIndex: ("nearest_centroids", "search", "search_pq"),
    }
    for cls, names in probes.items():
        for attr in names:
            if attr in cls.__dict__:
                method(cls, attr, by_type("probe"))
        for attr, kind in (("build", "build"), ("compact", "compact")):
            if attr in cls.__dict__:
                method(cls, attr, by_type(kind))
    method(SparkIndex, "compact", by_type("compact"))


# -- Spark event log ----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Per-job facts from a Spark event log: group, submission time (epoch
    s), stages, tasks and task metrics summed per job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0,
                        "input_bytes": 0,
                        "input_rows": 0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "result_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    job["tasks"] += 1
                    inp = m.get("Input Metrics") or {}
                    job["input_bytes"] += inp.get("Bytes Read", 0)
                    job["input_rows"] += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0
                    )
                    job["result_bytes"] += m.get("Result Size", 0)
    return jobs
