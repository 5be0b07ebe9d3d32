"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload sensor_daily --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics with no tracing. ``--trace 1``
runs traced operations alternating with untraced ones and reports the
per-layer metrics, the tracing overhead among them. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. Inputs are generated from ``--seed`` under a work
directory in the checkout, which is removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from data import RECIPE  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "op_p50_s": "s",
}

QUERY_LAYERS = ("construct_s", "plan_s", "execute_s", "tasks", "shuffle_write_bytes")
PER_LAYER_NAMES = (
    "session.start_s",
    "inputs_s",
    "warmup_s",
    "extract_s",
    "build_s",
    "plan_s",
    "sink_s",
    "execute_s",
    "compute_s",
    "spans_s",
    "op_traced_s",
    "op_untraced_s",
    "trace_overhead_s",
    "op_samples",
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "jvm_cpu_s",
    "files_written",
    "output_bytes",
    "driver_jobs",
    "persisted_rdds_left",
    *(f"q.{q}.{k}" for q in RECIPE["query_mix"]["queries"] for k in QUERY_LAYERS),
)
#: Layer spans that together make up one traced operation.
OP_SPANS = ("extract_s", "build_s", "plan_s", "sink_s", "execute_s")
#: Times a run generates its inputs and builds its declared state;
#: setup_s counts the median of these repeats.
SETUP_REPEATS = 3


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "count"


PER_LAYER = {name: unit(name) for name in PER_LAYER_NAMES}


@dataclass
class Context:
    """What every workload needs: the session, the seed and the probes."""

    spark: object
    seed: int
    workdir: str
    tracer: object
    probe: object
    jvm: int


def start_session(workdir: str):
    """A fresh local session whose temporary files all stay under workdir."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None
    from delfos_etl_pipeline_spark import get_spark

    conf = RECIPE["session"]
    spark = get_spark(
        "perfbench",
        master=conf["master"],
        shuffle_partitions=conf["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": conf["driver_memory"],
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{conf['driver_memory']} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(root, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def set_up(wl, workdir: str) -> tuple[str, float, float]:
    """Generate the inputs and build the declared state SETUP_REPEATS
    times, each into a fresh directory, keeping the last. Returns (inputs
    directory, median seconds of one set-up, median seconds of generation
    alone)."""
    setups, gens, root = [], [], None
    for rep in range(SETUP_REPEATS):
        previous, root = root, os.path.join(workdir, f"inputs{rep}")
        t0 = time.perf_counter()
        wl.make_inputs(root)
        gens.append(time.perf_counter() - t0)
        wl.prepare(root)
        setups.append(time.perf_counter() - t0)
        if previous is not None:
            shutil.rmtree(previous)
    return root, statistics.median(setups), statistics.median(gens)


def measure(args, workdir: str) -> dict:
    spark = start_session(workdir)
    session_s = time.perf_counter() - T_START
    try:
        from probes import StageProbe, Tracer, jvm_pid, peak_rss_mb
        from workloads import WORKLOADS

        jvm = jvm_pid(spark)
        ctx = Context(spark, args.seed, workdir, Tracer(), StageProbe(spark), jvm)
        wl = WORKLOADS[args.workload](ctx)
        # A process starts its session once, so setup_s is that span plus
        # the median of the repeated input generation and state building.
        inputs_dir, prepare_s, inputs_s = set_up(wl, workdir)
        setup_s = session_s + prepare_s
        if args.trace:
            # Same seed, same inputs: selftest.py compares this across runs.
            print(f"inputs sha256 {tree_digest(inputs_dir)}", flush=True)

        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        untraced: list[float] = []
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = bool(args.trace) and i % 2 == 0
            elapsed = wl.op(traced)
            if not traced:
                untraced.append(elapsed)
            i += 1
            if (
                time.perf_counter() - t0 >= args.seconds
                and len(untraced) >= max(1, args.min_ops)
                and (not args.trace or len(wl.counted) >= wl.counted_ops)
            ):
                break
        wl.finish()
        peak = peak_rss_mb(jvm)
    finally:
        stop_session(spark)

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": peak,
            "op_p50_s": statistics.median(untraced),
        }
        units = END_TO_END
    else:
        tracer = ctx.tracer
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(wl.layers())
        for op in tracer.ops:
            op["spans_s"] = sum(op.get(k, 0.0) for k in OP_SPANS)
        spans = {k for op in tracer.ops for k in op}
        values.update({k: tracer.median(k) for k in spans if k != "op_s"})
        values["session.start_s"] = session_s
        values["inputs_s"] = inputs_s
        values["warmup_s"] = warmup_s
        values["op_traced_s"] = tracer.median("op_s")
        values["op_untraced_s"] = statistics.median(untraced)
        values["trace_overhead_s"] = values["op_traced_s"] - values["op_untraced_s"]
        values["op_samples"] = len(tracer.ops)
        units = PER_LAYER
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics not declared: {sorted(unknown)}")
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        "samples": untraced,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("sensor_daily", "sensor_backfill", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--min-ops", type=int, default=1, help="time at least this many operations")
    p.add_argument("--samples", help="also write the untraced operation times to this JSON file")
    args = p.parse_args(argv)
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        result = measure(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    samples = result.pop("samples")
    if args.samples:
        with open(args.samples, "w") as f:
            json.dump(samples, f)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
