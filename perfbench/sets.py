"""Run sets of benchmark runs and report spread within a set and drift
between sets.

    python3 perfbench/sets.py --sets 2 --seeds 10 [--workload NAME ...]
        [--trace] [--out perfbench/results/sets.json]

For every set and workload it runs ``run.py`` once per seed (seeds
1..N in the first set, N+1..2N in the second, and so on), each in a
fresh process, and takes for each end-to-end metric the median and
the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
Drift is the change of a set's median against the first set's, as a
share of the first. ``--trace`` adds one traced run per set and
reports the tracing overhead: the wall time of each workload's traced
call against the untraced runs' median warm-up call, which is the
same first call of a fresh session, untraced.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench_config() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["run_s"] = time.perf_counter() - t
    return out


def _records(workload: str, seeds, trace: int) -> list[dict]:
    """The newest run record of ``workload`` for each seed."""
    out = []
    for seed in seeds:
        paths = sorted(
            (ROOT / ".perfbench" / "records").glob(f"{workload}-s{seed}-t{trace}-*.json"),
            key=lambda p: p.stat().st_mtime,
        )
        out.append(json.loads(paths[-1].read_text()))
    return out


def tracing_overhead_s(workload: str, seeds) -> float:
    """Traced first call minus the median untraced first call."""
    traced = _records(workload, seeds[:1], 1)[0]["samples"][0]["wall_s"]
    cold = statistics.median(r["warmup"]["wall_s"] for r in _records(workload, seeds, 0))
    return traced - cold


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summarize(runs: list[dict], names: list[str]) -> dict:
    out = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs]
        out[name] = {
            "median": statistics.median(values),
            "spread": spread(values) if len(values) > 1 else 0.0,
            "values": values,
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", type=Path)
    args = p.parse_args()
    cfg = bench_config()
    workloads = args.workload or [w["name"] for w in cfg["workloads"]]
    e2e = [m["name"] for m in cfg["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    report: dict = {"seeds_per_set": args.seeds, "sets": []}
    for k in range(args.sets):
        seeds = range(1 + k * args.seeds, 1 + (k + 1) * args.seeds)
        this = {"workloads": {}}
        for wl in workloads:
            runs = [one_run(wl, s, cfg["run_seconds"], 0) for s in seeds]
            if not all(r["correct"] for r in runs):
                raise SystemExit(f"{wl}: a run failed its output check")
            this["workloads"][wl] = {
                "metrics": summarize(runs, e2e),
                "run_s": [r["run_s"] for r in runs],
            }
            for name, m in this["workloads"][wl]["metrics"].items():
                print(f"set {k + 1} {wl:18s} {name:12s} median {m['median']:10.4f}"
                      f"  spread {m['spread']:7.2%}  (bound {bounds[name]:.0%})",
                      flush=True)
        if args.trace:
            traced = one_run(workloads[0], seeds[0], cfg["run_seconds"], 1)
            this["traced"] = {k: v["value"] for k, v in traced["metrics"].items()}
            this["tracing_overhead_s"] = {
                wl: tracing_overhead_s(wl, seeds) for wl in workloads
            }
            print("tracing overhead (traced first call - untraced median first call):",
                  {wl: round(v, 3) for wl, v in this["tracing_overhead_s"].items()})
        report["sets"].append(this)
    first = report["sets"][0]["workloads"]
    for k, this in enumerate(report["sets"][1:], start=2):
        for wl, data in this["workloads"].items():
            for name, m in data["metrics"].items():
                base = first[wl]["metrics"][name]["median"]
                m["drift"] = (m["median"] - base) / base
                print(f"drift set {k} vs 1 {wl:18s} {name:12s} {m['drift']:+7.2%}"
                      f"  (bound {bounds[name]:.0%})")
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
