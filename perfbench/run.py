"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lifecycle --seed 7 --seconds 1 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it records the machine
state and the sha256 of every generated input. Everything the run
writes lives under ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TRACED_END_TO_END = ("build_rel", "lookup_p50_rel", "maintain_rel")


def cpu_calibration_ms() -> float:
    """Single-core speed check before the JVM starts: milliseconds for a
    fixed pure-Python sha256 workload (~13 MB hashed), best of 3."""
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        b = b"\x00" * 65536
        for _ in range(200):
            b = hashlib.sha256(b).digest() * 2048
        reps.append(time.perf_counter() - t0)
    return min(reps) * 1000


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat;
    empty where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return []


def steal_frac(start: list[int], end: list[int]) -> float | None:
    """Share of the machine's CPU time the hypervisor took between two
    :func:`cpu_ticks` readings."""
    if not start or not end:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def configure_spark_env(work: Path, event_dir: Path | None) -> None:
    """Keep every file Spark and its workers write under ``work``; quiet
    the console; optionally write the event log. Must run before the JVM
    starts."""
    from perfbench.tracing import event_log_conf

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SHAHA_SPARK_DRIVER_MEM"] = "2g"
    # no /tmp/hsperfdata_* from the spark-submit launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if event_dir is not None:
        event_dir.mkdir()
        args += event_log_conf(event_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin,
    held by this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def span_totals(tracer) -> dict[str, float]:
    """Seconds spent in each span name (timed ops and set-up)."""
    totals: dict[str, float] = {}
    for span in tracer.spans:
        totals[span.name] = totals.get(span.name, 0.0) + span.seconds
    return {k: round(v, 3) for k, v in sorted(totals.items())}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # the package under test comes from the checkout; without it there is
    # nothing to measure, and the run fails before printing a result
    sys.path.insert(0, str(ROOT))
    import shaha_spark

    if Path(shaha_spark.__file__).resolve().parent.parent != ROOT:
        sys.exit(f"shaha_spark is not in this checkout ({ROOT})")

    from perfbench import workloads
    from perfbench.tracing import Tracer, read_event_log

    workload = workloads.WORKLOADS.get(args.workload)
    if workload is None:
        parser.error(f"unknown workload {args.workload!r}; "
                     f"choose from {', '.join(workloads.WORKLOADS)}")

    started = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    machine = {"nproc": cores, "loadavg_start": os.getloadavg(),
               "cpu_calib_ms": cpu_calibration_ms()}
    ticks = cpu_ticks()
    work = ROOT / ".perfbench_work" / f"{workload.name}-{os.getpid()}"
    event_dir = work / "events" if args.trace else None
    try:
        configure_spark_env(work, event_dir)
        from shaha_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("shaha-perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark, enabled=bool(args.trace))
            bench = workloads.Bench(spark, work, workload, args.seed, tracer)
            inputs, db, setup_s = bench.run(args.seconds)
            metrics = bench.end_to_end(session_s + setup_s)
            if args.trace:
                # the timed rounds' figures under tracing: divided by the
                # same metric of an untraced run, they give the cost of
                # tracing
                traced = {f"trace.{k}": metrics[k] for k in TRACED_END_TO_END}
                metrics, later = bench.probe_layers(inputs, db)
                metrics.update(traced)
                metrics.update(bench.wall(inputs))
                metrics["session.get_spark_s"] = (session_s, "s")
        finally:
            stop_spark(spark)
        if args.trace:
            counters = read_event_log(event_dir)
            metrics.update(workloads.from_event_log(tracer, counters, later))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    machine["loadavg_end"] = os.getloadavg()
    machine["steal_frac"] = steal_frac(ticks, cpu_ticks())

    print(json.dumps({
        "workload": workload.name, "seed": args.seed, "machine": machine,
        "inputs_sha256": inputs.sha256,
        "samples": {k: len(v) for k, v in sorted(bench.samples.items())},
        "span_seconds": span_totals(tracer),
        "phase_seconds": {"session": session_s, **bench.phase_s},
        "wall_s": time.perf_counter() - started,
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
