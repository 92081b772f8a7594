"""Metric definitions and the arithmetic that turns operation records into
end-to-end and per-layer numbers."""

from __future__ import annotations

import os
import statistics

import numpy as np

# name -> (unit, better). Must match BENCHMARK.json (selftest checks it).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "point_p50_ms": ("ms", "lower"),
    "substring_p50_ms": ("ms", "lower"),
    "query_tail_ms": ("ms", "lower"),
    "queries_per_s": ("1/s", "higher"),
    "write_p50_s": ("s", "lower"),
    "ingest_rows_per_s": ("rows/s", "higher"),
    "write_bytes_per_user_byte": ("ratio", "lower"),
    "index_bytes_per_data_byte": ("ratio", "lower"),
    "stored_bytes_per_user_byte": ("ratio", "lower"),
    "ok_ratio": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# Reported in the run report, not gated: each is missing on one workload
# (top-K refuses merge-on-read tables; lookup runs no maintenance and has no
# unindexed tail), or rests on too few samples to be steady (write tail).
REPORT_ONLY = {
    "write_tail_s": "s",
    "tail_point_p50_ms": "ms",
    "topk_p50_ms": "ms",
    "recall_at_10": "ratio",
    "maintenance_s": "s",
}

PER_LAYER = {
    "core.lake.search_call_ms": "ms",
    "core.lake.result_collect_ms": "ms",
    "core.catalog.read_ms": "ms",
    "core.catalog.reads_per_query": "count",
    "core.catalog.commit_ms": "ms",
    "core.catalog.commits": "count",
    "core.planner.plan_search_ms": "ms",
    "core.planner.unindexed_files_per_query": "count",
    "core.layout.file_row_counts_ms": "ms",
    "core.refine.collect_bounded_ms": "ms",
    "core.refine.candidate_units_per_query": "count",
    "core.refine.scan_fallback_ratio": "ratio",
    "indices.exact.build_ms": "ms",
    "indices.exact.probe_ms": "ms",
    "indices.exact.compact_ms": "ms",
    "indices.exact.bytes": "bytes",
    "sources.reader.read_calls_per_query": "count",
    "sources.reader.files_per_query": "count",
    "spark.jobs_per_query.point": "count",
    "spark.jobs_per_query.substring": "count",
    "spark.stages_per_query.point": "count",
    "spark.stages_per_query.substring": "count",
    "spark.tasks_per_query.point": "count",
    "spark.tasks_per_query.substring": "count",
    "spark.jobs_per_write": "count",
    "spark.shuffle_bytes_per_write": "bytes",
    "spark.input_rows_per_result_row": "ratio",
    "spark.input_bytes_per_query": "bytes",
    "spark.unattributed_jobs": "count",
    "jvm.gc_ms": "ms",
    "host.calibration_start_ms": "ms",
    "host.calibration_end_ms": "ms",
    "host.steal_pct": "%",
}

QUERY_KINDS = ("point", "substring", "topk", "tail")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, but never below p90 (a run of n < 100 samples has
    fewer than ten beyond its p90; n is reported with it)."""
    n = len(values)
    q = max(0.9, 1.0 - 10.0 / n)
    return float(np.percentile(values, 100 * q)), q, n


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def write_p50(writes: list[dict]) -> float:
    """Median write latency per table format, averaged over formats: a
    pooled median over two formats of different cost flips between them."""
    by_fmt: dict[str, list[float]] = {}
    for w in writes:
        by_fmt.setdefault(w["fmt"], []).append(w["s"])
    return statistics.mean(median(v) for v in by_fmt.values())


# -- disk accounting -----------------------------------------------------------


def sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) new or rewritten between two snapshots."""
    new = [p for p, s in after.items() if before.get(p) != s]
    return sum(after[p] for p in new), len(new)


def tree_bytes(paths) -> int:
    return sum(sum(sizes(p).values()) for p in paths if os.path.exists(p))


# -- process tree memory ---------------------------------------------------------


class PeakRss:
    """Peak resident memory of this process and all its live descendants
    (JVM, Python workers): the sum of each live process's VmHWM, sampled at
    operation boundaries, maximised over samples. No sampler thread runs."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except (OSError, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


# -- summaries -------------------------------------------------------------------


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def summarize(wl, bench, storage: dict, env: dict) -> dict:
    ops = bench.ops
    window = [o for o in ops if o["phase"] == "window"]
    by_kind = {k: [o["s"] for o in window if o["kind"] == k] for k in QUERY_KINDS}
    queries = [o["s"] for o in window if o["kind"] in QUERY_KINDS]
    q_tail, q_pct, q_n = tail(queries)
    writes = wl.write_samples
    w_s = [w["s"] for w in writes]
    w_tail, w_pct, w_n = tail(w_s)
    maint = [
        o["s"] for o in ops if o["kind"] == "maintenance" and o["phase"] != "warmup"
    ]
    recalls = [o["recall"] for o in window if "recall" in o]
    failed = [o for o in ops if not o["ok"]]
    ms = 1000.0
    values = {
        "setup_s": wl.setup_s,
        "point_p50_ms": median(by_kind["point"]) * ms,
        "substring_p50_ms": median(by_kind["substring"]) * ms,
        "query_tail_ms": q_tail * ms,
        "queries_per_s": len(queries) / sum(queries),
        "write_p50_s": write_p50(writes),
        "ingest_rows_per_s": sum(w["rows"] for w in writes) / sum(w_s),
        "write_bytes_per_user_byte": sum(w["bytes"] for w in writes)
        / sum(w["user_bytes"] for w in writes),
        "index_bytes_per_data_byte": storage["index_bytes"] / storage["data_bytes"],
        "stored_bytes_per_user_byte": storage["disk_bytes"]
        / storage["live_user_bytes"],
        "ok_ratio": (len(ops) - len(failed)) / len(ops),
        "peak_rss_mb": env["peak_rss_mb"],
    }
    report_only = {
        "write_tail_s": w_tail,
        "tail_point_p50_ms": median(by_kind["tail"]) * ms
        if by_kind["tail"] else None,
        "topk_p50_ms": median(by_kind["topk"]) * ms if by_kind["topk"] else None,
        "recall_at_10": statistics.mean(recalls) if recalls else None,
        "maintenance_s": sum(maint) if maint else None,
    }
    return {
        "env": env,
        "attempted": len(ops),
        "failed": len(failed),
        "failures": [
            {"id": o["id"], "phase": o["phase"], "reason": o["reason"],
             "query": o.get("query")}
            for o in failed
        ],
        "end_to_end": {k: _m(v, END_TO_END[k][0]) for k, v in values.items()},
        "report_only": {k: (None if v is None else _m(v, REPORT_ONLY[k]))
                        for k, v in report_only.items()},
        "samples": {
            "queries_by_kind": {k: len(v) for k, v in by_kind.items()},
            "query_tail": {"percentile": q_pct, "n": q_n},
            "write_tail": {"percentile": w_pct, "n": w_n},
            "writes": writes,
            "setup_reps_s": wl.rep_times,
            "rounds": wl.rounds_run,
            "window_s": wl.window_s,
        },
        "storage": storage,
        "ops": [{k: v for k, v in o.items() if k != "reason"} for o in ops],
    }


def layer_table(bench, wl, tracer, jobs: dict, storage: dict, env: dict) -> dict:
    """Per-layer self times and counters per operation group, Spark work per
    operation group, and the declared per-layer metrics. Warm-up operations
    and queries outside the window are left out."""
    selfs = tracer.self_times()

    def group(o) -> str | None:
        if o["phase"] == "warmup":
            return None
        if o["kind"] in QUERY_KINDS:
            return o["kind"] if o["phase"] == "window" else None
        return "write" if o["kind"].startswith("write") else o["kind"]

    ops = {o["id"]: (o, group(o)) for o in bench.ops}
    n_ops: dict[str, int] = {}
    for o, g in ops.values():
        if g is not None:
            n_ops[g] = n_ops.get(g, 0) + 1
    # a write is a data commit plus its index build: count writes, not ops
    n_ops["write"] = len(wl.write_samples)

    # span name -> group -> {calls, self_ms, total_ms, counters}
    table: dict[str, dict[str, dict]] = {}
    for s in tracer.spans:
        o, g = ops.get(s["op"], (None, None))
        if g is None or s["end"] is None or s["name"].startswith("op."):
            continue
        cell = table.setdefault(s["name"], {}).setdefault(
            g, {"calls": 0, "self_ms": 0.0, "total_ms": 0.0, "counters": {}}
        )
        cell["calls"] += 1
        cell["self_ms"] += selfs[s["id"]] * 1000
        cell["total_ms"] += (s["end"] - s["start"]) * 1000
        for k, v in s["counters"].items():
            cell["counters"][k] = cell["counters"].get(k, 0) + v
    for groups in table.values():
        for g, cell in groups.items():
            n = max(n_ops.get(g, 1), 1)
            cell["per_op"] = {
                "calls": cell["calls"] / n,
                "self_ms": cell["self_ms"] / n,
                "total_ms": cell["total_ms"] / n,
                **{k: v / n for k, v in cell["counters"].items()},
            }

    # Spark jobs -> operations: by job group; a job without one (started on
    # a pooled thread) by the operation running when it was submitted
    intervals = [(o["wall_start"], o["wall_end"], oid) for oid, (o, _) in ops.items()]
    spark: dict[str, dict] = {}
    unattributed = outside = 0
    for job in jobs.values():
        oid = job["group"]
        if oid is None:
            oid = next((i for a, b, i in intervals if a <= job["submit"] <= b), None)
            if oid is None:
                outside += 1
                continue
            unattributed += 1
        o, g = ops.get(oid, (None, None))
        if g is None:
            continue
        tot = spark.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0,
                                   "input_bytes": 0, "input_rows": 0,
                                   "shuffle_bytes": 0})
        tot["jobs"] += 1
        tot["stages"] += job["stages"]
        tot["tasks"] += job["tasks"]
        tot["input_bytes"] += job["input_bytes"]
        tot["input_rows"] += job["input_rows"]
        tot["shuffle_bytes"] += job["shuffle_write_bytes"]
    for g, tot in spark.items():
        tot["result_rows"] = sum(
            o.get("result_rows", 0) for o, og in ops.values() if og == g
        )
        n = max(n_ops.get(g, 1), 1)
        tot["per_op"] = {k: v / n for k, v in tot.items()}

    qk = [g for g in QUERY_KINDS if n_ops.get(g)]

    def agg(name: str, groups, field: str = "self_ms") -> float:
        """Sum of a span field or counter over groups, per operation."""
        num = 0.0
        for g in groups:
            cell = table.get(name, {}).get(g)
            if cell is not None:
                num += cell[field] if field in cell else cell["counters"].get(field, 0)
        den = sum(n_ops.get(g, 0) for g in groups)
        return num / den if den else 0.0

    def sp(g: str, field: str) -> float:
        return spark.get(g, {}).get("per_op", {}).get(field, 0.0)

    cb_calls = agg("core.refine.collect_bounded", qk, "calls")
    point = spark.get("point", {})
    declared = {
        "core.lake.search_call_ms": agg("core.lake.search_call", qk, "total_ms"),
        "core.lake.result_collect_ms": agg("core.lake.result_collect", qk, "total_ms"),
        "core.catalog.read_ms": agg("core.catalog.read", qk),
        "core.catalog.reads_per_query": agg("core.catalog.read", qk, "calls"),
        "core.catalog.commit_ms": agg("core.catalog.commit", ["write"]),
        "core.catalog.commits": agg("core.catalog.commit", ["write"], "calls"),
        "core.planner.plan_search_ms": agg("core.planner.plan_search", qk),
        "core.planner.unindexed_files_per_query": agg(
            "core.planner.plan_search", qk, "unindexed_files"),
        "core.layout.file_row_counts_ms": agg("core.layout.file_row_counts", ["write"]),
        "core.refine.collect_bounded_ms": agg("core.refine.collect_bounded", qk),
        "core.refine.candidate_units_per_query": agg(
            "core.refine.collect_bounded", qk, "units"),
        "core.refine.scan_fallback_ratio": (
            agg("core.refine.collect_bounded", qk, "fallback") / cb_calls
            if cb_calls else 0.0),
        "indices.exact.build_ms": agg("indices.exact.build", ["write"]),
        "indices.exact.probe_ms": agg("indices.exact.probe", ["point"]),
        "indices.exact.compact_ms": agg("indices.exact.compact", ["maintenance"]),
        "indices.exact.bytes": storage["index_bytes_by_type"].get("exact", 0),
        "sources.reader.read_calls_per_query": agg("sources.reader.read", qk, "calls"),
        "sources.reader.files_per_query": agg("sources.reader.read", qk, "files"),
        "spark.jobs_per_query.point": sp("point", "jobs"),
        "spark.jobs_per_query.substring": sp("substring", "jobs"),
        "spark.stages_per_query.point": sp("point", "stages"),
        "spark.stages_per_query.substring": sp("substring", "stages"),
        "spark.tasks_per_query.point": sp("point", "tasks"),
        "spark.tasks_per_query.substring": sp("substring", "tasks"),
        "spark.jobs_per_write": sp("write", "jobs"),
        "spark.shuffle_bytes_per_write": sp("write", "shuffle_bytes"),
        "spark.input_rows_per_result_row": point.get("input_rows", 0)
        / max(point.get("result_rows", 0), 1),
        "spark.input_bytes_per_query": sum(
            spark.get(g, {}).get("input_bytes", 0) for g in qk
        ) / max(sum(n_ops[g] for g in qk), 1),
        "spark.unattributed_jobs": unattributed,
        "jvm.gc_ms": env["gc_window_ms"],
        "host.calibration_start_ms": env["calibration_start_ms"],
        "host.calibration_end_ms": env["calibration_end_ms"],
        "host.steal_pct": env["steal_pct"],
    }
    return {
        "declared": {k: _m(v, PER_LAYER[k]) for k, v in declared.items()},
        "spans": table,
        "spark": spark,
        "ops_per_group": n_ops,
        "jobs_total": len(jobs),
        "jobs_outside_ops": outside,
    }


def print_summary(result: dict, out) -> None:
    env = result["env"]
    print(f"== {env['workload']} seed={env['seed']} trace={env['trace']} "
          f"attempted={result['attempted']} failed={result['failed']}", file=out)
    for k, v in result["end_to_end"].items():
        print(f"  {k:32s} {v['value']:.4f} {v['unit']}", file=out)
    for k, v in result["report_only"].items():
        if v is not None:
            print(f"  {k:32s} {v['value']:.4f} {v['unit']}  (report only)", file=out)
    for f in result["failures"][:10]:
        print(f"  FAILED {f['id']} ({f['phase']}): {f['reason']}", file=out)
