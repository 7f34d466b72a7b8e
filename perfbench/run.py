"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One client runs closed-loop passes over
the workload's ops on ``local[N]``, N being half the CPUs in the process's
affinity mask (see ``task_threads``).  After an untimed check pass, which
also warms the JVM, it times at least ``MIN_PASSES`` passes and then more
while they are expected to end within ``--seconds``; the metrics are
medians over these passes.  Every output is checked (see
``workloads.py``).  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``:

* ``--trace 0``: the end-to-end metrics, with tracing off.
* ``--trace 1``: the per-layer metrics.  The session also writes Spark's
  event log, every second pass runs with the Python-UDF profiler on and
  each plan forced once, and the span tree is written to
  ``.perfbench/trace/<workload>-seed<seed>.json``.

Each run gets a fresh warehouse, local and tmp dir under ``.perfbench/``,
removed on exit, so no run reads tables an earlier run published.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import layer_report  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer, duration, profile_seconds  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the first pass after the check pass is still warming up (10-35% slow),
# so a median needs three
MIN_PASSES = 3


class Run:
    """One run's session, spans and pass label.  ``run_op`` times one op,
    tags its Spark jobs with ``<pass label>:<op>`` and turns a failure
    into ``None``."""

    def __init__(self, spark, tracer, scratch: str):
        self.spark = spark
        self.tracer = tracer
        self.scratch = scratch
        self.traced = False  # profiler on and plans forced
        self.label = ""
        self.udf_s: dict[str, float] = {}  # job description -> profiled UDF seconds

    def run_op(self, workload, name: str, check: bool = False) -> float | None:
        desc = f"{self.label}:{name}"
        sc = self.spark.sparkContext
        sc.setJobDescription(desc)
        start = time.perf_counter()
        try:
            with self.tracer.span(f"op:{name}"):
                (workload.check if check else workload.run_op)(self, name)
                if self.traced:
                    dump = os.path.join(self.scratch, "profile", desc.replace(":", "_"))
                    self.spark.profile.dump(dump)
                    self.spark.profile.clear()
                    self.udf_s[desc] = profile_seconds(dump)
            return time.perf_counter() - start
        except Exception:
            print(f"op {desc} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            sc.setJobDescription(None)

    def run_pass(self, workload, label: str, order: list[str], check: bool = False) -> dict:
        self.label = label
        with self.tracer.span("pass", trace_id=label) as span:
            latencies = {name: self.run_op(workload, name, check) for name in order}
        return {"label": label, "span": span, "latencies": latencies}


def rss_tree_mb() -> float:
    """Summed VmHWM of this process and every descendant (the JVM and
    its Python workers), read once from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while we looked
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid]
        tree.update(kids)
        frontier.extend(kids)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def task_threads(cpus: int) -> int:
    """Spark task threads for ``cpus`` CPUs: half of them.  A Python-UDF
    task keeps a JVM task thread and a Python worker busy, and the JVM's
    JIT and GC threads and the driver process need CPU too; with one
    task thread per CPU the passes measured the scheduler (pass times
    spread twice as wide and ran slower on a 4-CPU host)."""
    return max(1, cpus // 2)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def op_medians(passes: list[dict]) -> dict[str, float]:
    samples: dict[str, list[float]] = {}
    for p in passes:
        for name, t in p["latencies"].items():
            if t is not None:
                samples.setdefault(name, []).append(t)
    return {name: statistics.median(ts) for name, ts in samples.items()}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def bench(args, scratch: str) -> dict:
    from mindseye_dataframes_spark.session import get_session

    cpus = len(os.sched_getaffinity(0))
    threads = task_threads(cpus)
    # keep every file Spark, the JVM and the Python workers write inside
    # the run's scratch dir (SPARK_LOCAL_DIRS, when set, overrides
    # spark.local.dir)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(scratch, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    tracer = Tracer()
    workload = workloads.WORKLOADS[args.workload](args.seed)
    rng = random.Random(args.seed)

    def order() -> list[str]:
        return rng.sample(workload.ops, len(workload.ops)) if workload.permute else list(workload.ops)

    with tracer.span("session.start", trace_id="setup"):
        spark = get_session(app_name=f"perfbench-{args.workload}", cpus=threads, extra_conf=conf)
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, tracer, scratch)
        with tracer.span("prepare", trace_id="setup"):
            workload.prepare(run)
        passes = [run.run_pass(workload, "check", order(), check=True)]
        setup_s = time.perf_counter() - T0

        def one_pass(i: int) -> None:
            # a traced run alternates plain and traced passes, so the
            # warm-up trend weighs on both alike
            run.traced = bool(args.trace) and i % 2 == 1
            if run.traced:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            prefix = ("traced" if run.traced else "plain") if args.trace else "pass"
            passes.append(run.run_pass(workload, f"{prefix}{len(passes)}", order()))
            if run.traced:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")

        # at least MIN_PASSES passes (two of each kind when traced), then
        # another only while it is expected, at the median pass time so
        # far, to end within --seconds
        end = time.perf_counter() + args.seconds
        took: list[float] = []
        while len(took) < MIN_PASSES + args.trace or time.perf_counter() + statistics.median(took) <= end:
            one_pass(len(took))
            took.append(duration(passes[-1]["span"]))
        direct = workload.direct_passes(run) if args.trace and hasattr(workload, "direct_passes") else {}
        peak_rss_mb = rss_tree_mb()
    finally:
        stop(spark, gateway)

    attempted = sum(len(p["latencies"]) for p in passes)
    failed = sum(t is None for p in passes for t in p["latencies"].values())
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    timed_passes = passes[1:]
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "task_threads": threads,
        "passes": len(timed_passes), "pass_s": [duration(p["span"]) for p in timed_passes],
    }
    if not args.trace:
        medians = op_medians(timed_passes)
        detail["op_s_p50"] = medians
        result["metrics"] = {
            "setup_s": metric(setup_s, "s"),
            "pass_s_p50": metric(statistics.median(detail["pass_s"]), "s"),
            "op_s_geomean": metric(geomean(list(medians.values())), "s"),
        }
    else:
        metrics, report = layer_report.report(
            workload=workload, passes=passes, spans=tracer.spans, udf_s=run.udf_s,
            events=events, direct=direct, setup_s=setup_s, peak_rss_mb=peak_rss_mb,
        )
        result["metrics"] = metrics
        out_dir = os.path.join(ROOT, ".perfbench", "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({**detail, **report}, fh, indent=1)
        detail["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(detail))
    return result


def stop(spark, gateway) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=20)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    # a SIGTERM (e.g. from a timeout) unwinds like an error, so the
    # session is stopped and the scratch dir removed
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    # the package is imported from the checkout; Python workers find it
    # through PYTHONPATH, not through this process's sys.path
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import mindseye_dataframes_spark  # noqa: F401  (fails fast outside a checkout)

    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=state)
    try:
        result = bench(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
