#!/usr/bin/env python3
"""Entity-resolution benchmark: seeded web-page workloads through the
shipped public entry points, with output checks.

Run from the repository root:

    python3 erbench/run.py --workload hot_domains --seed 7 --seconds 10 --trace 0
    python3 erbench/run.py            # every BENCHMARK.json workload, default seed

``--trace 0`` is the measured run: untimed set-up (JVM launch, corpus
generation and parquet write, one cold pass or the initial table), then
the timed units: on a batch workload passes until ``--seconds`` have
passed, at least two; on the stream its three micro-batches. It prints
the end-to-end metrics, each timing the median of the units. ``--trace
1`` is the traced run: it calls each stage's public function one at a
time, materializes its result before the next stage, and prints every
per-layer metric it measured (spans, counts and Spark job-group
metrics) on one line; its spans and metrics are written to
``.erbench/traces/`` when it exits. The last stdout line is one short
JSON object, {"correct", "attempted", "failed", "metrics"}, holding the
metrics BENCHMARK.json names.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import workloads as W  # noqa: E402
from probes import Tracer, descendants  # noqa: E402
from workloads import log  # noqa: E402

ROOT = os.getcwd()
DEFAULT_SEED = 7
HELD_OUT_SEED = 1009  # kept out of tuning; for confirming later claims
# Pinned: the package default is half of MemAvailable at launch, so
# the heap (and peak_rss_mb) would follow the host's state. 2g is the
# floor of the package's own range, the size it picks on a small host.
DRIVER_MEM = "2g"
# layers a batch workload never calls; their per-layer metrics read 0
STREAM_ONLY = ("merge.", "sink.", "stream.")


def pin_environment(work: str) -> int:
    """Same host-dependent settings on every run, and every file the
    run writes kept under `work`. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # -Xms as -Xmx: no heap growth decisions, which moved VmHWM by up
            # to a third between runs
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "TMPDIR": tmp,
            # pandas UDFs are pickled by reference: workers import the package
            "PYTHONPATH": ROOT + (os.pathsep + old_pp if old_pp else ""),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    for var in ("SPARK_MASTER", "SPARK_GRAFT_ICEBERG"):
        os.environ.pop(var, None)
    tempfile.tempdir = tmp
    return cpus


def start_spark(cpus: int, work: str, trace: bool):
    from entity_resolution_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf["spark.ui.enabled"] = "true"
    spark = get_spark(app_name="erbench", master=f"local[{cpus}]", extra_conf=conf)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return spark, jvm_pid


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (the JVM and its Python workers) to be gone."""
    from pyspark import SparkContext

    started = descendants(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in started:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Entity-resolution benchmark")
    p.add_argument("--workload", help="one workload; omit to run every BENCHMARK.json workload")
    p.add_argument(
        "--seed", type=int, default=DEFAULT_SEED,
        help=f"input seed (default {DEFAULT_SEED}; {HELD_OUT_SEED} is held out to confirm claims)",
    )
    p.add_argument("--seconds", type=float, default=None, help="timed window (default: run_seconds)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_one(args, bench: dict) -> int:
    from corpus import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".erbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = pin_environment(work)
    ledger = W.Ledger()
    spark, jvm_pid = start_spark(cpus, work, bool(args.trace))
    tracer = Tracer(spark, args.workload, args.seed) if args.trace else None
    stream = args.workload == "recrawl_stream"
    metrics: dict = {}
    try:
        if args.trace:
            if stream:
                metrics, info = W.traced_stream(spark, args.seed, work, ledger, tracer)
            else:
                metrics, info = W.traced_batch(spark, args.workload, args.seed, work, ledger, tracer)
        elif stream:
            metrics, info = W.run_stream(
                spark, jvm_pid, args.seed, args.seconds, work, ledger, PROCESS_START
            )
        else:
            metrics, info = W.run_batch(
                spark, jvm_pid, args.workload, args.seed, args.seconds, work, ledger, PROCESS_START
            )
    finally:
        if tracer is not None:
            tracer.dump(
                os.path.join(ROOT, ".erbench", "traces", f"{args.workload}-seed{args.seed}.json"),
                metrics,
            )
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # every per-layer metric the run measured; the last line carries
        # only the BENCHMARK.json subset, so that it stays short
        print("erbench layers " + json.dumps(metrics, sort_keys=True))
    names = bench["per_layer" if args.trace else "end_to_end"]
    out = {}
    for m in names:
        name = m["name"]
        if name not in metrics:
            if not (name.startswith(STREAM_ONLY) and not stream):
                raise KeyError(f"metric {name} was not measured")
            metrics[name] = 0.0  # layer never called by a batch workload
        out[name] = {"value": float(metrics[name]), "unit": m["unit"]}
    error_rate = ledger.failed / max(ledger.attempted, 1)
    print(
        f"erbench {args.workload} seed={args.seed} trace={args.trace} nproc={cpus} "
        f"driver_mem={DRIVER_MEM} error_rate={error_rate:.4f} "
        + " ".join(f"{k}={json.dumps(v, sort_keys=True)}" for k, v in info.items())
    )
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": out,
            },
            separators=(",", ":"),
        )
    )
    return 0


def run_all(args, bench: dict) -> int:
    """Every BENCHMARK.json workload in its own process (a fresh JVM
    each), one table of end-to-end metrics plus error_rate."""
    summary, rc = {}, 0
    for wl in (w["name"] for w in bench["workloads"]):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            log(f"{wl}: exit code {res.returncode}")
            rc = 1
            continue
        r = json.loads(lines[-1])
        summary[wl] = {k: v["value"] for k, v in r["metrics"].items()}
        summary[wl]["error_rate"] = r["failed"] / r["attempted"]
        for k, v in r["metrics"].items():
            print(f"{wl:16s} {k:28s} {v['value']:14.6g} {v['unit']}")
        print(f"{wl:16s} {'error_rate':28s} {summary[wl]['error_rate']:14.6g} ratio")
    print(json.dumps(summary, separators=(",", ":")))
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "entity_resolution_spark")):
        log("no entity_resolution_spark package in the working directory; run from the repository root")
        return 2
    sys.path.insert(1, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    if args.workload is None:
        return run_all(args, bench)
    return run_one(args, bench)


if __name__ == "__main__":
    sys.exit(main())
