"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit; Spark runs on ``local[N]``
(N = ``--cores``, default: the CPUs this process may use). With
``--trace 0`` the run measures whole operation cycles for ``--seconds``
of operation time and reports the end-to-end metrics; with ``--trace 1``
it runs one untraced and one traced cycle and reports the per-layer
metrics. ``--workload all`` runs every workload in turn, each in its
own process. The last line of standard output is one JSON object.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# every workload run.py knows; BENCHMARK.json lists the ones a
# regression gate runs (`scale` is left out of it for run time)
WORKLOAD_NAMES = ("interactive", "scale", "graph_iter")
END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("work_per_s", "1/s"),
    ("retained_heap_mb", "MB"),
)
# set-ups per run; setup_s is their median (the first also launches the JVM)
SETUP_REPS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure(root: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``root``."""
    tmp = root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(root / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_session(name: str, cores: int):
    from query_refinement_dsit_databases_2021_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{name}", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shut_down(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=120)


def set_up(wl, args, root: Path, reps: int):
    """Start a session and generate, write and register the inputs,
    ``reps`` times (the first also launches the JVM), then warm up once;
    the last session stays open. Returns it, the set-up times and the
    warm-up time."""
    spark, times = None, []
    for r in range(reps):
        if spark is not None:
            spark.stop()
            shutil.rmtree(root / f"rep{r - 1}", ignore_errors=True)
        t0 = T_START if r == 0 else time.perf_counter()
        spark = start_session(wl.name, args.cores)
        wl.prepare(spark, root / f"rep{r}", args.seed)
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    return spark, times, time.perf_counter() - t0


class Tally:
    def __init__(self):
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        self.work = 0.0
        self.digest = hashlib.sha256()

    def record(self, wl, op, result, err, latency, cycle) -> None:
        self.attempted += 1
        if err is None:
            try:
                err = wl.check(op, result)
            except Exception:  # a check that cannot run is a failed op
                err = traceback.format_exc(limit=3)
        if err is not None:
            self.failed += 1
            log(f"{wl.name}: operation {self.attempted} failed: {err}")
        elif cycle == 0:
            self.digest.update(repr(wl.digest_rows(op, result)).encode())
        self.latencies.append(latency)
        self.work += wl.work(op)


def run_op(fn, *a):
    t = time.perf_counter()
    try:
        out, err = fn(*a), None
    except Exception:
        out, err = None, traceback.format_exc(limit=5)
    return out, err, time.perf_counter() - t


def measure(wl, seconds: float) -> Tally:
    """Whole cycles, closed loop, until ``seconds`` of operation time."""
    tally, c = Tally(), 0
    while c == 0 or sum(tally.latencies) < seconds:
        for op in wl.cycle(c):
            out, err, dt = run_op(wl.run, op)
            tally.record(wl, op, out, err, dt, c)
        c += 1
    return tally


def traced(wl, spark):
    """One untraced cycle, then the same mix traced."""
    from perfbench.probe import SparkProbe, Tracer
    from perfbench.workloads import PER_LAYER

    base = Tally()
    for op in wl.cycle(0):
        out, err, dt = run_op(wl.run, op)
        base.record(wl, op, out, err, dt, 0)
    probe, tracer, tally = SparkProbe(spark), Tracer(), Tally()
    samples, lat = [], []
    for i, op in enumerate(wl.cycle(1)):
        res, err, dt = run_op(wl.trace, op, i, probe, tracer)
        out = None
        if err is None:
            out, latency, sample = res
            samples.append(sample)
            lat.append(latency)
        tally.record(wl, op, out, err, dt, 1)
    metrics = {name: 0.0 for name, _u, _b in PER_LAYER}
    if samples:
        metrics.update(wl.summarize(samples))
        metrics["trace.latency_p50_s"] = statistics.median(lat)
        metrics["trace.overhead_p50_s"] = statistics.median(lat) - statistics.median(
            base.latencies
        )
        own = tracer.self_times()
        roots = {s.name for s in tracer.spans if s.parent is None}
        metrics["trace.op_self_s"] = statistics.mean(
            t for name in roots for t in own[name]
        )
    spans = Path.cwd() / ".perfbench_work" / "spans" / f"{wl.name}.json"
    spans.parent.mkdir(parents=True, exist_ok=True)
    spans.write_text(json.dumps(tracer.to_json()))
    units = {name: unit for name, unit, _b in PER_LAYER}
    tally.attempted += base.attempted
    tally.failed += base.failed
    tally.digest = base.digest
    return tally, {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def run_one(args) -> int:
    from perfbench.workloads import WORKLOADS, peak_rss_mb, retained_heap_mb

    wl = WORKLOADS[args.workload]()
    root = Path.cwd() / ".perfbench_work" / f"{wl.name}-{os.getpid()}"
    configure(root)
    spark = None
    try:
        spark, setup_times, warm_s = set_up(
            wl, args, root, 1 if args.trace else SETUP_REPS
        )
        if args.trace:
            tally, metrics = traced(wl, spark)
        else:
            tally = measure(wl, args.seconds)
            lat = tally.latencies
            jvm_pid = spark.sparkContext._gateway.proc.pid
            print(f"# peak rss (MB): driver {peak_rss_mb(os.getpid()):.0f} "
                  f"jvm {peak_rss_mb(jvm_pid):.0f}")
            values = {
                "setup_s": statistics.median(setup_times),
                "latency_p50_s": statistics.median(lat),
                "work_per_s": tally.work / sum(lat),
                "retained_heap_mb": retained_heap_mb(spark),
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        inputs = wl.inputs()
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(root, ignore_errors=True)
    print(f"# {wl.name} seed={args.seed} cores={args.cores} inputs={inputs}")
    print(f"# set-ups (s): {[round(t, 3) for t in setup_times]} "
          f"warm-up (s): {warm_s:.3f}")
    print(f"# ops={tally.attempted} failed={tally.failed} "
          f"cycle0_digest={tally.digest.hexdigest()[:16]}")
    print(f"# op latencies (s): {[round(t, 3) for t in tally.latencies]}")
    for name, m in metrics.items():
        print(f"{wl.name} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; metrics keyed workload.metric."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(args.cores),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            log(f"{name}: exited with {proc.returncode}")
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
