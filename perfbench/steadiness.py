"""Steadiness check: repeated sets of benchmark runs per workload.

    python3 perfbench/steadiness.py

Runs every workload of BENCHMARK.json in two sets of RUNS runs untraced
(``--trace 0``, the end-to-end metrics, which carry bounds) and then in
one set traced (``--trace 1``, the per-layer metrics, which do not),
each run with its own seed (set k uses seeds 1000*k+1 ...) and driven
exactly as ``run.py`` is. For
every metric it records the median of each set, the spread (distance
between the first and third quartile over the median, as
``statistics.quantiles(n=4)`` gives them) and the shift between sets
(larger over smaller set median, minus 1).

An end-to-end metric is flagged when a spread exceeds a third of its
bound in BENCHMARK.json (``setup_s`` excepted: only its shift is
gated), and any metric when its set medians differ by more than a
tenth (with one set, the shift is 0). Per-layer metrics that read 0 in every run (layers the workload
never calls) are left out. The record goes to
``.perfbench_work/steadiness.json`` and the tables, as Markdown, to
``.perfbench_work/steadiness.md``. Takes about an hour on 4 cores.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from cpu import machine_cpu, steal_share

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_work", "steadiness")
SETS = {0: 2, 1: 1}  # sets per --trace value
RUNS = 10
LIMIT = 0.10


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def run_set(bench: dict, wl: str, k: int, trace: int) -> list[dict]:
    runs = []
    for i in range(RUNS):
        seed = 1000 * (k + 1) + i + 1
        cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(trace)]
        t0, c0 = time.perf_counter(), machine_cpu()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall, steal = time.perf_counter() - t0, steal_share(c0, machine_cpu())
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"{wl} seed {seed} trace {trace}: exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res.update(seed=seed, wall_s=wall, steal=steal)
        runs.append(res)
        print(f"{wl} trace {trace} set {k + 1} seed {seed}: {wall:.1f} s, "
              f"steal {steal:.1%}, correct={res['correct']}", flush=True)
    return runs


def summarize(sets: list[list[dict]], bounds: dict) -> dict:
    summary = {}
    for m, first in sets[0][0]["metrics"].items():
        per_set = [[r["metrics"][m]["value"] for r in runs] for runs in sets]
        if not any(per_set[0] + per_set[-1]):
            continue
        meds = [statistics.median(v) for v in per_set]
        spreads = [spread(v) for v in per_set]
        if len(meds) == 1 or max(meds) == min(meds):
            shift = 0.0
        else:
            shift = max(meds) / min(meds) - 1 if min(meds) > 0 else float("inf")
        bound = bounds.get(m)
        steady = shift <= LIMIT and (bound is None or m == "setup_s"
                                     or max(spreads) <= bound / 3)
        summary[m] = {"unit": first["unit"], "medians": meds, "spreads": spreads,
                      "shift": shift, "bound": bound, "steady": steady}
    return summary


def table(wl: str, trace: int, rec: dict) -> list[str]:
    walls = [w for s in rec["wall_s"] for w in s]
    steal = [v for s in rec["steal"] for v in s]
    n = SETS[trace]
    head = "| metric | unit | " + " | ".join(f"median set {k + 1}" for k in range(n)) \
        + " | " + " | ".join(f"spread set {k + 1}" for k in range(n)) + " | shift | steady |"
    lines = [f"### {wl}, `--trace {trace}`", "",
             f"All results correct: {rec['correct']}. Run wall time (process start to exit): "
             f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s. "
             f"CPU steal during a run: median {statistics.median(steal):.1%}, "
             f"max {max(steal):.1%}.", "",
             head, "|" + "---|" * (4 + 2 * n)]
    for m, s in rec["metrics"].items():
        lines.append(f"| `{m}` | {s['unit']} | "
                     + " | ".join(f"{v:.4g}" for v in s["medians"]) + " | "
                     + " | ".join(f"{v:.3f}" for v in s["spreads"])
                     + f" | {s['shift']:.3f} | {'yes' if s['steady'] else '**no**'} |")
    return lines + [""]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "sets": SETS, "runs": RUNS,
              "limit": LIMIT, "workloads": {}}
    md = []
    for trace in (0, 1):
        for wl in (w["name"] for w in bench["workloads"]):
            sets = [run_set(bench, wl, k, trace) for k in range(SETS[trace])]
            rec = {"metrics": summarize(sets, bounds),
                   "correct": all(r["correct"] for runs in sets for r in runs),
                   "wall_s": [[round(r["wall_s"], 1) for r in runs] for runs in sets],
                   "steal": [[round(r["steal"], 4) for r in runs] for runs in sets],
                   "values": {m: [[r["metrics"][m]["value"] for r in runs] for runs in sets]
                              for m in sets[0][0]["metrics"]}}
            record["workloads"].setdefault(wl, {})[f"trace{trace}"] = rec
            md += table(wl, trace, rec)
            print("\n".join(md[-len(rec["metrics"]) - 7:]), flush=True)
            # written after every workload, so a cut run keeps what it measured
            os.makedirs(os.path.dirname(OUT), exist_ok=True)
            with open(OUT + ".json", "w") as f:
                json.dump(record, f, indent=1)
            with open(OUT + ".md", "w") as f:
                f.write("\n".join(md))
    print(f"wrote {OUT}.json and {OUT}.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
