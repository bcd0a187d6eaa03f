"""The repository benchmark: one workload, one seed, one result line.

Usage (from the checkout root)::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads and metrics are declared in ``BENCHMARK.json``. The load is a
closed loop: this process is the one client and keeps one operation in
flight against ``get_spark(cpus=4)``.

``--trace 0`` (end to end): set up ``SETUPS`` times (a new Spark session
and the workload's set-up: worker warm-up, an index build; the first
set-up runs on a fresh JVM, and its session then runs the workload's
untimed warm-up operations; near-dup repeats its index build in the
running session) and report the median as ``setup_s``; then run
operations for ``--seconds`` and at least one round (an operation of every
kind: each query of the mix, or every near-dup batch). Time metrics are per
round: the sum over kinds of each kind's median operation.

``--trace 1`` (per layer): after the warm-up operations, run one round
traced and the same round untraced, each after its own set-up. The traced
session writes Spark's event log and a span wraps every module call; the
log is reduced to per-layer metrics (``eventlog.py``), the core kernels are
timed in-process (``kernels.py``), and the traced wall minus the untraced
wall is the tracing overhead (an upper estimate: the untraced round runs on
the JVM the traced round warmed). Spans with their self times go to
``.perfbench_out/layers-<workload>-s<seed>.json``.

Every operation's output is checked; a failed check or a raising operation
counts in ``failed``. The last line of standard output is the JSON result.
Inputs are generated from the seed and cached (``datagen.py``), in a child
process while the JVM starts; both are outside every metric. Before the run, the load average and the wall of
the repository's fixed ``bench.cpu_probe`` kernel are logged to standard
error as a noise record; they never gate or repeat a run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUPS = 3
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _check_checkout() -> str | None:
    for need in ("BENCHMARK.json", "bench.py", "__spark_entry__.py", "cms_topn_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return f"{need} not found next to perfbench/: run from a full checkout"
    return None


class Sessions:
    """Starts and stops the Spark session; everything it writes stays in
    the run's work directory."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    def start(self, event_log_dir: str | None = None):
        from cms_topn_spark.spark_session import get_spark

        self.stop()
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def set_up(sessions: Sessions, wl, event_log_dir=None, new_session=True) -> float:
    """Session start (unless ``new_session`` is false) and the workload's
    set-up (worker warm-up, index)."""
    from spans import Tracer

    t0 = time.perf_counter()
    if new_session:
        wl.bind(sessions.start(event_log_dir), Tracer())
    wl.prepare()
    return time.perf_counter() - t0


def timed_phase(wl, seconds: float):
    """Run operations for ``seconds`` and at least one round (at most the
    workload's ``max_ops``); read the peak RSS of this process and of the
    Python workers over the phase."""
    from spans import peak_rss_mb, python_worker_pids, reset_peak_rss

    def more(done: int, elapsed: float) -> bool:
        return done < wl.max_ops and (elapsed < seconds or done < len(wl.kinds))

    gc.collect()
    reset_peak_rss([os.getpid()] + python_worker_pids())
    results = []
    t0 = time.perf_counter()
    while more(len(results), time.perf_counter() - t0):
        results.append(wl.run_op(len(results)))
    rss = {
        "driver_peak_rss_mb": peak_rss_mb(os.getpid()),
        "worker_peak_rss_mb": max((peak_rss_mb(p) for p in python_worker_pids()), default=0.0),
    }
    return results, rss


def per_round(results: list) -> dict[str, float]:
    """Sum over kinds of each kind's median operation: a round at median
    speed, so every kind counts once however often it ran."""
    kinds: dict[str, list] = {}
    for r in results:
        kinds.setdefault(r.kind, []).append(r)
    med = statistics.median
    return {
        "wall_s": sum(med(r.wall_s for r in rs) for rs in kinds.values()),
        "cpu_s": sum(med(r.cpu_s for r in rs) for rs in kinds.values()),
        "docs": sum(rs[0].docs for rs in kinds.values()),
        "ops": len(kinds),
    }


def warm_up(wl) -> list:
    """The workload's warm-up operations, untimed: checked, in no metric."""
    return [wl.run_op(i) for i in range(wl.warm_up_ops)]


def end_to_end(wl, sessions: Sessions, seconds: float) -> tuple[dict, list]:
    setups = [set_up(sessions, wl)]
    warm = warm_up(wl)  # in the first set-up's session, on the fresh JVM
    setups += [set_up(sessions, wl, new_session=wl.new_session_per_setup)
               for _ in range(SETUPS - 1)]
    log(f"set-ups: {', '.join(f'{s:.2f}' for s in setups)} s")
    results, rss = timed_phase(wl, seconds)
    sessions.stop()
    rnd = per_round(results)
    metrics = {
        "setup_s": statistics.median(setups),
        "docs_per_s": rnd["docs"] / rnd["wall_s"],
        "queries_per_min": 60.0 * rnd["ops"] / rnd["wall_s"],
        "cpu_s": rnd["cpu_s"],
        "ok_ops_frac": 1.0 - sum(r.failed for r in warm + results) / len(warm + results),
        **rss,
    }
    return metrics, warm + results


def traced(wl, sessions: Sessions, seed: int) -> tuple[dict, list]:
    """One round traced, then the same round untraced, each in its own
    session after the warm-up operations."""
    from eventlog import layer_metrics, read_events, reduce_events, span_report
    from kernels import kernel_metrics
    from spans import Tracer

    if wl.warm_up_ops:
        set_up(sessions, wl)
    warm = warm_up(wl)
    evdir = os.path.join(sessions.work, "eventlog")
    set_up(sessions, wl, evdir)
    tracer = Tracer(sessions.spark.sparkContext)
    wl.bind(sessions.spark, tracer)
    with_spans, _ = timed_phase(wl, 0)
    set_up(sessions, wl)  # stopping the traced session flushes its event log
    untraced, _ = timed_phase(wl, 0)
    sessions.stop()
    red = reduce_events(read_events(evdir))
    metrics = layer_metrics(red, tracer.spans)
    states = metrics["operators.grouped.state_rows"]
    metrics["operators.grouped.combine_ratio"] = (
        wl.grouped_rows_per_round / states if states else 0.0
    )
    metrics.update(kernel_metrics(wl))
    walls = {"traced": sum(r.wall_s for r in with_spans),
             "untraced": sum(r.wall_s for r in untraced)}
    metrics["trace.overhead_s"] = walls["traced"] - walls["untraced"]
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"layers-{wl.name}-s{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": seed, "ops": len(with_spans),
                   "phase_walls_s": walls, "metrics": metrics,
                   "spans": span_report(red, tracer.spans)}, f, indent=1)
    log(f"per-layer record: {path}")
    return metrics, warm + with_spans + untraced


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="cms_topn_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    args = ap.parse_args(argv)
    problem = _check_checkout()
    if problem:
        log(problem)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; one of {names}")
        return 2
    import bench
    from workloads import WORKLOADS

    log(f"noise: loadavg {os.getloadavg()}, cpu_probe {bench.cpu_probe():.4f} s")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sessions = Sessions(work)
    try:
        t0 = time.perf_counter()
        cls = WORKLOADS[args.workload]
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "datagen.py"), "--seed",
                                str(args.seed), "--size", args.size, *cls.datasets],
                               stdout=sys.stderr)
        try:
            sessions.start()  # the JVM starts while the inputs are generated
        finally:
            code = gen.wait()
        if code:
            raise subprocess.CalledProcessError(code, gen.args)
        wl = cls(args.seed, args.size, work)
        log(f"inputs and JVM ready in {time.perf_counter() - t0:.1f} s")
        if args.trace:
            metrics, results = traced(wl, sessions, args.seed)
        else:
            metrics, results = end_to_end(wl, sessions, args.seconds)
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
    for p in wl.problems:
        log(f"check failed: {p}")
    log(f"{len(results)} operations: " + ", ".join(f"{r.kind} {r.wall_s:.2f}" for r in results))
    failed = sum(r.failed for r in results)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
