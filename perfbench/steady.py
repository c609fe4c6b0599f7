"""Steadiness check: is every end-to-end metric steady within its bound?

    python3 perfbench/steady.py

Runs every workload in BENCHMARK.json ``SETS`` times ``RUNS`` times,
one fresh seed per run, in separate processes as ``run.py`` is run by
hand. For each end-to-end metric it reports, against the bound in
BENCHMARK.json:

- ``spread``: the distance between the first and third quartile of all
  runs (``statistics.quantiles(values, n=4)``) as a share of their
  median. It must stay within the bound and should stay below a third
  of it; the verdict says ``wide`` when it does not;
- ``shift``: how much worse the last set's median is than the first
  set's, as a share of the first. It must stay within the bound.

Prints a Markdown table, with each metric's values and each run's
wall time on stderr, and
exits non-zero if any run failed or any metric is out of bounds.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 5
SETS = 2


def run_once(bench: dict, workload: str, seed: int) -> tuple[dict, float]:
    """-> (the run's result JSON, the run's wall seconds)."""
    t0 = time.perf_counter()
    cmd = [sys.executable, *bench["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), time.perf_counter() - t0


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)

    ok = True
    print("| workload | metric | median | spread | shift | bound | verdict |")
    print("|---|---|---|---|---|---|---|")
    for w in (w["name"] for w in bench["workloads"]):
        sets: list[list[dict]] = []
        walls: list[float] = []
        for s in range(SETS):
            results = []
            for i in range(RUNS):
                res, wall = run_once(bench, w, 1000 + s * RUNS + i)
                walls.append(wall)
                if not res["correct"] or res["failed"]:
                    print(f"# {w}: run failed: {res}", file=sys.stderr)
                    ok = False
                results.append(res)
            sets.append(results)
        print(f"# {w} run wall s: " + " ".join(f"{v:.1f}" for v in walls), file=sys.stderr)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per_set = [[r["metrics"][name]["value"] for r in rs] for rs in sets]
            values = [v for vs in per_set for v in vs]
            print(f"# {w} {name}: " + " | ".join(" ".join(f"{v:.4g}" for v in vs) for vs in per_set), file=sys.stderr)
            sp = spread(values)
            first, last = statistics.median(per_set[0]), statistics.median(per_set[-1])
            worse = (last - first) / first if m["better"] == "lower" else (first - last) / first
            good = worse <= bound and sp <= bound
            verdict = "OUT" if not good else "ok" if sp <= bound / 3 else "ok, wide"
            ok &= good
            print(
                f"| {w} | {name} | {statistics.median(values):.4g} {m['unit']} | {sp:.3f} | "
                f"{worse:+.3f} | {bound} | {verdict} |",
                flush=True,
            )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
