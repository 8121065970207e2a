"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {analytics,service} \\
        --seed N --seconds S --trace {0,1}

Each run starts one Spark application (``local[nproc]``), builds its own
inputs from the seed, warms up, times a fixed number of operations, checks
the program's outputs and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the run times its operations untraced and then again with a
span around every call into an engine layer, and prints the per-layer
metrics instead. The exit code is 0 only when every check passed.

``--seconds`` sets the nominal length of the timed phase; the op count is
derived from it at a fixed nominal cost per op, so two commits measured
with the same settings do identical work. Every run writes only below a
fresh directory in the checkout (``.perfbench_run/``), which is removed at
exit: the Spark warehouse, the landing and warehouse URIs, the ANN index,
Spark's local dirs and the JVM and Python temp dirs all live there.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)
# spans of traced runs are written here when the run ends
TRACE_DIR = os.path.join(CHECKOUT, ".perfbench_trace")

import numpy as np  # noqa: E402

from build_a_cloud_based_batch_etl_pipeline_spark.session import get_spark  # noqa: E402
from perfbench import trace, workloads  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "retained_mb": "MB",
}

WORKLOADS = {
    "analytics": workloads.analytics,
    "service": workloads.service,
}


class Run:
    """State of one benchmark run: its private directory, seeded RNG,
    Spark session, host probes and (when tracing) spans."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool) -> None:
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.rng = np.random.default_rng(seed)
        base = os.path.join(CHECKOUT, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
        self.spark = None
        self.session_s = 0.0
        self.calib: list[float] = []
        self.problems: list[str] = []
        self.tracer = trace.Tracer()
        self._closers: list = []
        self._first_op_t = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def start_spark(self):
        """The engine's own session factory, pointed at this run's dirs."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # worker processes import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # the JVMs spark-submit starts: temp files here, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t0
        return self.spark

    def on_close(self, fn) -> None:
        self._closers.append(fn)

    def probe(self) -> None:
        self.calib.append(trace.host_probe())

    def problem(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"CHECK FAILED: {msg}", file=sys.stderr, flush=True)

    def mark_timed_start(self) -> None:
        if self._first_op_t is None:
            self._first_op_t = time.perf_counter()

    @property
    def setup_s(self) -> float:
        return self._first_op_t - PROCESS_T0

    def close(self) -> None:
        try:
            for fn in reversed(self._closers):
                fn()
        finally:
            if self.spark is not None:
                stop_spark(self.spark)
            shutil.rmtree(self.root, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the application and wait for the JVM it launched to exit
    (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def finite(value: float):
    """The value as measured; a percentile a failed op pushed to
    infinity has no JSON number and reads null."""
    return value if math.isfinite(value) else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = WORKLOADS[args.workload](run)
    finally:
        run.close()

    lat = res["latencies"]
    attempted, failed = len(lat), sum(1 for x in lat if not math.isfinite(x))
    busy = sum(x for x in lat if math.isfinite(x))
    correct = failed == 0 and not run.problems
    if run.traced:
        values = dict(res["layers"])
        values["session.start_s"] = run.session_s
        values["host.calib_s"] = trace.median(run.calib)
        units = workloads.LAYER_UNITS
        os.makedirs(TRACE_DIR, exist_ok=True)
        run.tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        values = {
            "setup_s": run.setup_s,
            "items_per_s": res["items"] / busy if busy else 0.0,
            "op_p50_s": trace.median(lat),
            "op_p90_s": trace.quantile(lat, 0.9),
            "retained_mb": res["retained_mb"],
        }
        units = END_TO_END_UNITS
    print(
        f"# {args.workload} seed={args.seed} ops={attempted} failed={failed} "
        f"checks_failed={len(run.problems)} "
        f"host.calib_s={trace.median(run.calib):.5f} "
        f"session.start_s={run.session_s:.3f}",
        flush=True,
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": finite(v), "unit": units.get(k, "s")}
                    for k, v in values.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
