"""Run one workload over several seeds and report each end-to-end metric's
spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 \\
        --out .perfbench_out/spread-ingest.jsonl

Spread is the distance between the first and third quartile of the values
(``statistics.quantiles(values, n=4)``) as a share of their median. With
``--compare A.jsonl`` it also reports how far this set's medians moved from
those of an earlier set, as a share of the earlier median, signed so that a
positive number is a change for the worse. ``--trace 1`` runs traced and
compares their end-to-end numbers: against an untraced set of the same
seeds, the shift is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    line["seed"], line["wall_s"] = seed, time.time() - t0
    if trace:
        # a traced run prints per-layer metrics; keep its end-to-end ones
        # too, so traced and untraced sets compare (the tracing overhead)
        tag = f"{workload}-s{seed}-t{trace}"
        with open(os.path.join(ROOT, ".perfbench_out", f"{tag}.json")) as f:
            report = json.load(f)
        line["layers"], line["metrics"] = line["metrics"], report["end_to_end"]
    return line


def table(rows: list[dict], bench: dict, earlier: list[dict] | None) -> str:
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    out = ["| metric | median | spread | bound | spread/bound"
           + (" | shift vs earlier |" if earlier else " |"),
           "|---|---|---|---|---" + ("|---|" if earlier else "|")]
    for name, spec in bounds.items():
        vals = [r["metrics"][name]["value"] for r in rows]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        cells = [name, f"{med:.4g} {spec['unit']}", f"{spread:.3f}",
                 f"{spec['bound']:.2f}", f"{spread / spec['bound']:.2f}"]
        if earlier:
            old = statistics.median(r["metrics"][name]["value"] for r in earlier)
            shift = (med - old) / old if old else 0.0
            if spec["better"] == "higher":
                shift = -shift
            cells.append(f"{shift:+.3f}")
        out.append("| " + " | ".join(cells) + " |")
    return "\n".join(out)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", help="append each run's result line here")
    p.add_argument("--compare", help="an earlier --out file of the same workload")
    p.add_argument("--load", action="store_true",
                   help="read --out instead of running")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rows = []
    if a.load:
        with open(a.out) as f:
            rows = [json.loads(line) for line in f]
    else:
        for s in seeds(a.seeds):
            r = run_one(a.workload, s, bench["run_seconds"], a.trace)
            rows.append(r)
            print(f"seed {s}: correct={r['correct']} wall={r['wall_s']:.1f}s",
                  file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    earlier = None
    if a.compare:
        with open(a.compare) as f:
            earlier = [json.loads(line) for line in f]
    walls = [r["wall_s"] for r in rows if "wall_s" in r]
    print(f"{a.workload}: {len(rows)} runs, all correct: "
          f"{all(r['correct'] for r in rows)}"
          + (f", wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s"
             if walls else ""))
    print(table(rows, bench, earlier))
    return 0


if __name__ == "__main__":
    sys.exit(main())
