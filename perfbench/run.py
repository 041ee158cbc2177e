#!/usr/bin/env python3
"""The repository's benchmark. Runs one workload in this fresh process
against the package in the checkout around this directory.

    python3 perfbench/run.py --workload lineitem_profile --seed 1 \
        --seconds 10 --trace 0

Set-up (session, seeded input, reference statistics, one cold run) is timed
as ``setup_s``. Then as many whole runs of the workload as fit in
``--seconds`` follow; each run's output is checked against DuckDB outside
the timed region. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` interleaves untraced and traced runs and prints the per-layer
metrics (see README.md). The last line of stdout is one JSON object.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import oracle  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pandas_profiling_personal_spark"
DRIVER_MEM = "2g"
#: relative tolerance of the traced run's self-time and CPU sums
SUM_TOLERANCE = 1e-6

END_TO_END = {
    "wall_s": "s",
    "cells_per_s": "1/s",
    "setup_s": "s",
    "executor_cpu_s": "s",
    "peak_rss_mb": "MB",
}
TRACE_METRICS = {
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.self_sum_s": "s",
    "trace.executor_cpu_s": "s",
    "trace.samples": "count",
}


def per_layer_names() -> dict[str, str]:
    names = {
        f"{layer}.{m}": unit
        for layer in tracing.LAYERS
        for m, unit in tracing.LAYER_METRICS.items()
    }
    names.update(TRACE_METRICS)
    return names


def pin_environment(work: str) -> None:
    """Fix what the session would otherwise take from the host: cores, driver
    memory, scratch directories, time zone, and no console progress bar."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=shlex.join(
            [
                "--conf", "spark.ui.showConsoleProgress=false",
                "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
                "--driver-java-options", java_opts,
                "pyspark-shell",
            ]
        ),
    )
    time.tzset()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_cpu() -> list[int]:
    """Host-wide CPU jiffies: user, nice, system, idle, iowait, irq, softirq,
    steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Measurement:
    def __init__(self, workload, log: "tracing.StageLog"):
        self.workload = workload
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.steal: list[float] = []
        self.traced: list[dict] = []
        self.sums_ok = True

    def _check(self, out) -> None:
        errors = self.workload.check(out)
        self.attempted += 1
        if errors:
            self.failed += 1
            print("check failed: " + "; ".join(errors[:5]), file=sys.stderr)

    def untraced(self) -> None:
        self.log.mark()
        c0 = host_cpu()
        t0 = time.perf_counter()
        out = self.workload.run()
        wall = time.perf_counter() - t0
        d = [b - a for a, b in zip(c0, host_cpu())]
        _, stages = self.log.collect()
        self.walls.append(wall)
        self.cpus.append(sum(st.cpu_s for st in stages))
        self.steal.append(round(d[7] / max(sum(d), 1), 3))
        self._check(out)

    def traced_run(self, tracer: "tracing.Tracer") -> None:
        tracer.reset()
        self.log.mark()
        with tracing.installed(tracer), tracer.span("run"):
            out = self.workload.run()
        jobs, stages = self.log.collect()
        root = tracer.spans[0]
        table = tracing.layer_table(tracer.spans, jobs, stages)
        wall = root.end - root.start
        self_sum = sum(row["self_s"] for row in table.values())
        cpu_sum = sum(row["executor_cpu_s"] for row in table.values())
        cpu_total = sum(st.cpu_s for st in stages)
        for what, got, want in (
            ("self_s", self_sum, wall),
            ("executor_cpu_s", cpu_sum, cpu_total),
        ):
            if abs(got - want) > SUM_TOLERANCE * max(1.0, want):
                self.sums_ok = False
                print(f"trace: per-layer {what} sums to {got}, run total "
                      f"is {want}", file=sys.stderr)
        self.traced.append(
            {"table": table, "wall": wall, "self_sum": self_sum,
             "cpu": cpu_total}
        )
        self._check(out)

    def _attempt(self, run, *args) -> None:
        try:
            run(*args)
        except Exception:
            self.attempted += 1
            self.failed += 1
            traceback.print_exc()

    def loop(self, seconds: float, trace: bool) -> None:
        """As many whole runs as the first one says fit in ``seconds``
        (rounded, so that the count does not flip on small changes in speed)
        and at least one. With ``trace``, at least four, untraced and traced
        in the order U T T U U T T U ..., so that over eight or more runs
        the speed-up that follows the warm-up hardly biases the tracing
        overhead."""
        tracer = tracing.Tracer() if trace else None
        t0 = time.perf_counter()
        self._attempt(self.untraced)
        runs = max(round(seconds / (time.perf_counter() - t0)), 4 if trace else 1)
        for i in range(1, runs):
            if trace and i % 4 in (1, 2):
                self._attempt(self.traced_run, tracer)
            else:
                self._attempt(self.untraced)

    def end_to_end(self, rows: int, cols: int, setup_s: float, rss: float):
        wall = _median(self.walls)
        return {
            "wall_s": wall,
            "cells_per_s": rows * cols / wall if wall else 0.0,
            "setup_s": setup_s,
            "executor_cpu_s": _median(self.cpus),
            "peak_rss_mb": rss,
        }

    def per_layer(self):
        out = {}
        for layer in tracing.LAYERS:
            for m in tracing.LAYER_METRICS:
                out[f"{layer}.{m}"] = _median(
                    [t["table"][layer][m] for t in self.traced]
                )
        traced_wall = _median([t["wall"] for t in self.traced])
        untraced_wall = _median(self.walls)
        out.update({
            "trace.wall_s": traced_wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
            "trace.self_sum_s": _median([t["self_sum"] for t in self.traced]),
            "trace.executor_cpu_s": _median([t["cpu"] for t in self.traced]),
            "trace.samples": len(self.traced),
        })
        return out


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it does once
    its stdin, a pipe from this process, is closed)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found next to {os.path.basename(HERE)}/; run "
              "from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    pin_environment(work)
    load_start = os.getloadavg()[0]
    parquet = os.path.join(work, "lineitem.parquet")
    workloads.write_input(parquet, args.seed)
    ref = oracle.reference(parquet)

    from pandas_profiling_personal_spark.session import get_session

    spark = get_session(app_name=f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if spark.conf.get("spark.sql.codegen.maxFields") != "320":
            raise RuntimeError("session lost get_session's codegen settings")
        wl = workloads.WORKLOADS[args.workload](spark, parquet, args.seed, ref)
        errors = wl.check(wl.run())  # cold run: JIT and codegen warm-up
        if errors:
            raise RuntimeError("warm-up run failed its check: " + "; ".join(errors))
        setup_s = time.perf_counter() - _PROCESS_START

        m = Measurement(wl, tracing.StageLog(spark.sparkContext))
        m.loop(args.seconds, bool(args.trace))
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(pid) + vm_hwm_mb("self")
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "rows": ref["n"],
            "columns": len(ref["variables"]),
            "spark": spark.version,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": DRIVER_MEM,
            "loadavg_1m": [load_start, os.getloadavg()[0]],
            "run_walls_s": [round(w, 3) for w in m.walls],
            "host_steal_frac": m.steal,
            "traced_walls_s": [round(t["wall"], 3) for t in m.traced],
        }
    finally:
        stop_session(spark)

    if args.trace:
        metrics, units = m.per_layer(), per_layer_names()
    else:
        metrics = m.end_to_end(env["rows"], env["columns"], setup_s, rss)
        units = END_TO_END
    print("env " + json.dumps(env))
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    correct = m.failed == 0 and m.sums_ok and m.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
