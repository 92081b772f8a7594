"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all checks (four short runs)
    python3 perfbench/selftest.py --static   # metric names and units only

1. Metric names, units and directions in ``perfbench/report.py`` match
   BENCHMARK.json, and a run prints exactly the declared metrics.
2. Two runs with the same seed and one round each (``--seconds 1``) give identical Spark
   job, stage, task and byte counters per operation kind; any counter that
   differs is listed.
3. A search wrapper that drops one result row drives ``ok_ratio`` below 1
   and ``correct`` to false.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_static(bench: dict) -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench.report import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    errs = []
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    if e2e != END_TO_END:
        errs.append(f"end_to_end differs: json={e2e} code={END_TO_END}")
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if layer != PER_LAYER:
        errs.append(f"per_layer differs: json={layer} code={PER_LAYER}")
    names = {w["name"] for w in bench["workloads"]}
    if names != set(WORKLOADS):
        errs.append(f"workloads differ: json={names} code={set(WORKLOADS)}")
    return errs


def run(workload: str, seed: int, trace: int, *extra: str) -> tuple[dict, dict]:
    """(printed result line, full report) of one run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    tag = f"{workload}-s{seed}-t{trace}"
    with open(os.path.join(ROOT, ".perfbench_out", f"{tag}.json")) as f:
        return line, json.load(f)


def check_printed(line: dict, bench: dict, key: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in bench[key]}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    return [] if got == want else [f"printed {key} differ: {got} vs {want}"]


def counters(report: dict) -> dict[str, float]:
    """Host-independent counters of a traced run, flattened."""
    out = {}
    for group, tot in report["layers"]["spark"].items():
        for k, v in tot.items():
            if k != "per_op":
                out[f"spark.{group}.{k}"] = v
    for name, groups in report["layers"]["spans"].items():
        for group, cell in groups.items():
            out[f"calls.{name}.{group}"] = cell["calls"]
            for k, v in cell["counters"].items():
                out[f"counter.{name}.{group}.{k}"] = v
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--static", action="store_true")
    p.add_argument("--seed", type=int, default=3)
    a = p.parse_args()
    bench = load_bench()
    failures = check_static(bench)
    print(f"[names] {'ok' if not failures else failures}")
    if a.static:
        return 1 if failures else 0

    # 1b + 2: two same-seed traced runs; every workload prints its metrics
    for wl in [w["name"] for w in bench["workloads"]]:
        line0, _ = run(wl, a.seed, 0)
        failures += check_printed(line0, bench, "end_to_end")
        first_line, first = run(wl, a.seed, 1)
        failures += check_printed(first_line, bench, "per_layer")
        _, second = run(wl, a.seed, 1)
        c1, c2 = counters(first), counters(second)
        diff = sorted(
            (k, c1.get(k), c2.get(k)) for k in set(c1) | set(c2)
            if c1.get(k) != c2.get(k)
        )
        print(f"[determinism {wl}] {len(c1)} counters, {len(diff)} differ")
        for k, x, y in diff:
            print(f"    {k}: {x} != {y}")

    # 3: an injected wrong result must be caught
    line, report = run("lookup", a.seed, 0, "--inject-drop-row")
    ok = line["metrics"]["ok_ratio"]["value"]
    caught = ok < 1.0 and not line["correct"] and report["failures"]
    print(f"[inject] ok_ratio={ok:.3f} correct={line['correct']} "
          f"failures listed={len(report['failures'])}")
    if not caught:
        failures.append("a dropped result row went unnoticed")
    print("FAIL: " + "; ".join(failures) if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
