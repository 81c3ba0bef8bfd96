"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_ladder --seed 1 \
        --seconds 1 --trace 0

Run from the root of a checkout. An untraced run (``--trace 0``)
launches the JVM, sets the session up three times (the later two
reuse the JVM), keeps the last one, then calls the workload until
``--seconds`` have passed, at least once. Every call's output is
checked. It prints the end-to-end metrics: medians over the calls,
and ``setup_s``.

A traced run (``--trace 1``) runs every workload, each in a fresh
child process with one set-up, and prints the per-layer metrics of
all three, each workload's tracing cost and the storage one call
leaves held.

Either way the last line of standard output is one JSON object, and
one JSON record per run (and per traced child) is written under
``.perfbench/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".perfbench"
# Set-ups per untraced run. Only the first launches the JVM; the
# others build a new SparkContext and session in it. A JVM launch and
# its cold first session cost ~10 s; paying that three times would add
# half again to a ~40 s run.
SETUP_REPS = 3
# a run must end within 180 s; start no call after this process age
DEADLINE_S = 120.0

END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s", "shuffle_mb": "MB"}
LAYER_UNITS = {
    "wall_s": "s",
    "driver_s": "s",
    "tasks": "count",
    "failed_tasks": "count",
    "task_cpu_s": "s",
    "gc_s": "s",
    "fetch_wait_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "storage_mb_after": "MB",
    "input_mb": "MB",
    "iterations": "count",
    "iter_wall_max_s": "s",
    "new_pairs_total": "count",
    "files": "count",
    "bytes_per_row": "B/row",
    "trace_overhead_s": "s",
    "retained_mb": "MB",
}
_COMMON = (
    "wall_s", "driver_s", "tasks", "failed_tasks", "task_cpu_s", "gc_s",
    "fetch_wait_s", "shuffle_mb", "spill_mb", "storage_mb_after",
)
_CC = ("iterations", "iter_wall_max_s", "new_pairs_total")


def span_metrics(workload: str, span: str) -> tuple[str, ...]:
    """The metrics a span reports."""
    if workload == "cc_fixed_point":
        return _COMMON + _CC
    if workload == "star_write_query":
        if span == "write":
            return _COMMON + ("files", "bytes_per_row")
        return ("wall_s", "input_mb", "shuffle_mb")
    return _COMMON


def layer_metric_names(wl) -> list[str]:
    """Per-layer metric names of one workload, in report order."""
    names = [
        f"{span}.{m}" for span in wl.spans for m in span_metrics(wl.name, span)
    ]
    return names + [f"{wl.name}.trace_overhead_s", f"{wl.name}.retained_mb"]


def layer_unit(name: str) -> str:
    return LAYER_UNITS[name.split(".", 1)[1]]


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and pin the session shape to this host's cores."""
    for d in ("local", "tmp"):
        (SCRATCH / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(SCRATCH / "local")
    os.environ["TMPDIR"] = str(SCRATCH / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


class Session:
    """The library's session (``get_spark``), restartable."""

    def __init__(self):
        self.spark = None
        # seconds the last start() spent launching a JVM (0 if reused)
        self.jvm_launch_s = 0.0

    def start(self):
        import pyspark.core.context as context

        from map_reduce_project_spark import get_spark

        launch = context.launch_gateway
        self.jvm_launch_s = 0.0

        def timed_launch(*args, **kwargs):
            t = time.perf_counter()
            try:
                return launch(*args, **kwargs)
            finally:
                self.jvm_launch_s = time.perf_counter() - t

        context.launch_gateway = timed_launch
        try:
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "1000000",
                    "spark.ui.retainedStages": "1000000",
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={SCRATCH / 'tmp'} -XX:-UsePerfData"
                    ),
                },
            )
        finally:
            context.launch_gateway = launch
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self, keep_jvm: bool = False) -> None:
        """Stop the session. Unless ``keep_jvm``, also shut the JVM
        down and wait for it (and with it the Python workers) to exit,
        so that the next start launches a new one."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if keep_jvm or gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup(session: Session, wl) -> float:
    """One set-up: session, inputs generated and materialized. Returns
    its wall seconds, less any JVM launch."""
    t = time.perf_counter()
    spark = session.start()
    wl.make_inputs(spark)
    return time.perf_counter() - t - session.jvm_launch_s


def call(wl, spark, counters, tracer=None) -> tuple[bool, dict | None]:
    """One checked call of the workload: (output correct, sample)."""
    from counters import MB, storage_mb, totals, tree_cpu_s

    counters.new_jobs()  # everything before the call is not its cost
    held = storage_mb(spark)
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = wl.op(spark)
        else:
            # the call's root span: parent of the layer spans, and owner
            # of the jobs that run between them
            with tracer.span(wl.name):
                result = wl.op(spark, tracer)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return False, None
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    retained = storage_mb(spark) - held
    jobs = counters.new_jobs()
    tot = totals(jobs)
    sample = {
        "wall_s": wall,
        "cpu_s": cpu,
        "shuffle_mb": tot["shuffle_write_bytes"] / MB,
        "retained_mb": retained,
        "tasks": tot["tasks"],
        "failed_tasks": tot["failed_tasks"] + tot["killed_tasks"],
    }
    if tracer is not None:
        sample["layers"] = tracer.layer_metrics(jobs)
        sample["trace_overhead_s"] = tracer.overhead_s
    try:
        errors = wl.check(spark, result)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        errors = [f"check raised {type(e).__name__}: {e}"]
    finally:
        wl.release(result)
    for e in errors:
        print(f"CHECK FAILED {wl.name}: {e}", file=sys.stderr)
    return not errors, sample


def measure(wl, spark, seconds: float, trace_mode: bool, run_id: str) -> dict:
    """Checked calls of the workload. Untraced: one warm-up call, then
    measured calls until ``seconds`` have passed (at least one).
    Traced: traced calls from the first, until ``seconds`` have passed."""
    from counters import StatusCounters, process_age_s
    from spans import Tracer

    counters = StatusCounters(spark)
    out = {"attempted": 0, "failed": 0, "warmup": None, "samples": [], "spans": []}
    if not trace_mode:
        ok, out["warmup"] = call(wl, spark, counters)
        out["attempted"] += 1
        out["failed"] += not ok
        if out["warmup"] is None:
            return out
    t0 = time.perf_counter()
    while True:
        tracer = Tracer(spark, f"{run_id}/{out['attempted']}") if trace_mode else None
        ok, sample = call(wl, spark, counters, tracer)
        out["attempted"] += 1
        out["failed"] += not ok
        if sample is None:
            break
        out["samples"].append(sample)
        if tracer is not None:
            out["spans"] += tracer.records()
        if time.perf_counter() - t0 >= seconds or process_age_s() > DEADLINE_S:
            break
    return out


def _median(samples: list[dict], key: str) -> float:
    return statistics.median(s[key] for s in samples)


def end_to_end(samples: list[dict], once_s: float, setups: list[float]) -> dict:
    """Medians over the measured calls, and the set-up time: ``once_s``
    (interpreter start and imports, the JVM launch and the warm-up
    call, each paid once per process) plus the median set-up."""
    out = {k: _median(samples, k) for k in ("wall_s", "cpu_s", "shuffle_mb")}
    out["setup_s"] = once_s + statistics.median(setups)
    return out


def per_layer(samples: list[dict], wl) -> dict:
    """Medians over the traced calls of every span metric, the tracer's
    own time inside the call and the storage one call leaves held."""
    names = layer_metric_names(wl)
    out = {}
    for metric in names[:-2]:
        span, key = metric.split(".", 1)
        out[metric] = statistics.median(s["layers"][span][key] for s in samples)
    out[names[-2]] = _median(samples, "trace_overhead_s")
    out[names[-1]] = _median(samples, "retained_mb")
    return out


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def run_workload(name: str, seed: int, seconds: float, trace_mode: bool) -> dict:
    """One workload in this process. Untraced: the end-to-end metrics.
    Traced: the workload's per-layer metrics."""
    from counters import process_age_s
    from workloads import WORKLOADS

    run_id = f"{name}-s{seed}-t{int(trace_mode)}-{uuid.uuid4().hex[:8]}"
    load_start = os.getloadavg()
    boot_s = process_age_s()
    wl = WORKLOADS[name](SCRATCH / "work" / run_id, seed)
    wl.scratch.mkdir(parents=True, exist_ok=True)
    session = Session()
    setups = []
    try:
        for rep in range(1 if trace_mode else SETUP_REPS):
            if rep:
                session.stop(keep_jvm=True)
            setups.append(setup(session, wl))
            if rep == 0:
                jvm_launch_s = session.jvm_launch_s
        calls = measure(wl, session.spark, seconds, trace_mode, run_id)
    finally:
        session.stop()
        shutil.rmtree(wl.scratch, ignore_errors=True)

    samples = calls["samples"]
    e2e = {}
    if samples:
        warmup_s = calls["warmup"]["wall_s"] if calls["warmup"] else 0.0
        e2e = end_to_end(samples, boot_s + jvm_launch_s + warmup_s, setups)
    layers = per_layer(samples, wl) if samples and trace_mode else {}
    record = {
        "run_id": run_id,
        "workload": name,
        "seed": seed,
        "trace": trace_mode,
        "seconds": seconds,
        "git_sha": _git_sha(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "boot_s": boot_s,
        "jvm_launch_s": jvm_launch_s,
        "setup_reps_s": setups,
        "attempted": calls["attempted"],
        "failed": calls["failed"],
        "warmup": calls["warmup"],
        "samples": samples,
        "spans": calls["spans"],
        "end_to_end": e2e,
        "per_layer": layers,
    }
    path = SCRATCH / "records" / f"{run_id}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(record, indent=1))
    return {
        "attempted": calls["attempted"],
        "failed": calls["failed"],
        "metrics": layers if trace_mode else e2e,
    }


def result_line(out: dict, unit) -> str:
    return json.dumps(
        {
            "correct": out["failed"] == 0 and out["attempted"] > 0,
            "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {
                k: {"value": v, "unit": unit(k)} for k, v in out["metrics"].items()
            },
        }
    )


def traced_all(seed: int, seconds: float) -> dict | None:
    """Trace every workload, each in a fresh child process, and merge
    their per-layer metrics."""
    from workloads import WORKLOADS

    out = {"attempted": 0, "failed": 0, "metrics": {}}
    share = seconds / len(WORKLOADS)
    t0 = time.perf_counter()
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__)), "--workload", name,
             "--seed", str(seed), "--seconds", str(share), "--trace", "1",
             "--single"],
            capture_output=True, text=True, cwd=ROOT,
            timeout=max(1.0, 170 - (time.perf_counter() - t0)),
        )
        sys.stderr.write(proc.stderr)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"traced {name} exited {proc.returncode}", file=sys.stderr)
            return None
        child = json.loads(lines[-1])
        out["attempted"] += child["attempted"]
        out["failed"] += child["failed"]
        out["metrics"].update(
            {k: v["value"] for k, v in child["metrics"].items()}
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--single", action="store_true",
        help="with --trace 1: trace only --workload, in this process",
    )
    args = p.parse_args(argv)
    if not (ROOT / "map_reduce_project_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no map_reduce_project_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    _prepare_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.trace and not args.single:
        out = traced_all(args.seed, args.seconds)
    else:
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    if not out or not out["metrics"]:
        print("perfbench: no metrics (a call failed to run)", file=sys.stderr)
        return 1
    unit = layer_unit if args.trace else END_TO_END.get
    print(result_line(out, unit))
    return 0


if __name__ == "__main__":
    sys.exit(main())
