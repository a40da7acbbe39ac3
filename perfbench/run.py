#!/usr/bin/env python3
"""Seeded end-to-end benchmark. Run from the repository root:

    python3 perfbench/run.py --workload daily_session --seed 1 --seconds 6 --trace 0

One process runs one workload: it starts a local Spark session pinned
to the host's cores, generates the workload's inputs from
``--seed``, runs warm-up units (cold JIT, codegen and Python-worker
start belong to set-up), then repeats the unit for ``--seconds``
seconds, checking every unit's output. It prints one line per metric
and, last, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns the Spark UI on, runs the same timed units, then
one plain unit for the engine counters and one traced unit that forces
every layer boundary, and reports the per-layer metrics (0 for layers
the workload does not touch); its spans go to ``.perfbench/traces/``.
Scratch data lives under ``.perfbench/work-<pid>/`` in the working
directory and is removed on exit. The exit code is 0 only if every
unit was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - process_age_s()


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Pin cores, driver memory and every scratch path; return cores."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # get_spark defaults to 16g, which can exceed physical memory;
        # the generated inputs fit well within 1g
        SPARK_DRIVER_MEM=f"{min(1024, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # the launcher JVM that spark-submit starts first writes no
        # perf-data or temp files outside the working directory either
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        # Python workers unpickle benchmark and package functions by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return cpus


def start_spark(work: str, ui: bool):
    from stock_indicators_etl_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": str(ui).lower(),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every process this run started to end."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    started = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in started:  # reap our own children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stock_indicators_etl_spark")):
        print("stock_indicators_etl_spark not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    state = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    cpus = pin_environment(work)
    try:
        return run(args, spec, work, state, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, work: str, state: str, cpus: int) -> int:
    from perfbench.jobs import WORKLOADS, force
    from perfbench.tracing import MemorySampler, SparkStatus, Tracer, median

    t_session = time.perf_counter()
    spark = start_spark(work, ui=bool(args.trace))
    session_start_s = time.perf_counter() - t_session
    sampler = MemorySampler()
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    errors: list[str] = []  # one entry per failed unit
    times: list[float] = []
    attempted = 0
    try:
        wl.setup()
        warm = []
        for _ in range(wl.warm_units):
            attempted += 1
            warm.append(wl.unit())
            err = wl.check()
            errors += [f"warm-up: {err}"] if err else []
        setup_s = time.perf_counter() - T_PROCESS_START
        print(f"# setup done in {setup_s:.2f} s (warm-up units: "
              + " ".join(f"{t:.2f}" for t in warm) + " s)", file=sys.stderr)

        with sampler.sampling():
            # at least one unit; another only if one more of the last
            # unit's length still ends within the window
            t_end = time.perf_counter() + args.seconds
            first = attempted
            while attempted == first or (
                time.perf_counter() + (times[-1] if times else 0.0) <= t_end
            ):
                attempted += 1
                try:
                    times.append(wl.unit())
                    err = wl.check()
                except Exception as e:  # a failed unit is counted, not fatal
                    traceback.print_exc()
                    err = f"{type(e).__name__}: {e}"
                if err:
                    errors.append(err)
        job_s = median(times)

        per_layer: dict[str, float] = {}
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
            status = SparkStatus(spark)
            # engine counters of one plain unit, then the traced unit
            status.mark()
            attempted += 1
            wl.unit()
            per_layer.update({f"session.{k}": v for k, v in status.counters().items()})
            err = wl.check()
            errors += [f"counted unit: {err}"] if err else []
            # the noop sink's first write loads its classes; keep that
            # out of the first traced prefix
            force(spark.range(1))
            attempted += 1
            per_layer.update(wl.trace(tracer, status))
            err = wl.check()
            errors += [f"traced unit: {err}"] if err else []
            per_layer["session.start_s"] = session_start_s
            # the whole traced unit, every prefix forcing included
            root = tracer.spans[0]
            per_layer["trace.overhead_s"] = root["end"] - root["start"] - job_s
            tracer.dump(os.path.join(state, "traces", f"{tracer.run_id}.jsonl"))
    finally:
        sampler.close()
        wl.close()
        stop_spark(spark)

    print("# unit times (s): " + " ".join(f"{t:.3f}" for t in times), file=sys.stderr)
    for e in errors:
        print(f"# check failed: {e}", file=sys.stderr)
    failed = len(errors)
    if args.trace:
        metrics = {
            m["name"]: {"value": float(per_layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        measured = {"job_s": job_s, "setup_s": setup_s, "peak_rss_mb": sampler.peak / 2**20}
        metrics = {
            m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(f"# {args.workload} seed={args.seed} units={len(times)} cores={cpus}")
    for name, v in metrics.items():
        print(f"{name} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
