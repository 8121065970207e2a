"""The benchmark's workloads. Each is a closed loop: one client thread
in one process issues the next op when the previous one returns.

Each workload function takes a ``run.Run`` and returns a dict with the
timed-phase op latencies (``math.inf`` for a failed op), the items the
timed phase finished, the retained driver heap and, when the run is
traced, the per-layer metrics. Output checks are never inside a timed
region; a failed check on an op fails that op, and any failed check
makes the run exit non-zero.

- ``analytics``: the first ``bench.HEADLINE`` query of each operator
  module (11 queries covering every module the headline list uses).
  The full list does not fit the time a run may take: its cold pass
  alone takes about a minute on 4 cores.
- ``service``: the engine's two service entry points in one
  application, interleaved in a seeded order: scheduled extract->load
  ticks through ``job`` with an in-process fetcher, each followed by a
  read of the loaded table (a seeded fifth re-deliver the previous landed
  object), and ``POST /ann`` requests to ``serve.make_handler``'s HTTP
  server against an IVF-PQ index built by ``operators.similarity`` (a
  seeded quarter carry 512 query vectors, the rest 8). The two share one
  workload so the whole schedule of runs fits its time budget: a
  workload's set-up costs about 25 s on 4 cores before its first op.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import os
import threading
import time
import traceback
from collections import defaultdict
from http.server import HTTPServer

import numpy as np

from perfbench import datagen, trace

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# Nominal seconds per op, used only to turn --seconds into a fixed op
# count; the measurement never depends on them.
ANALYTICS_PASS_S = 5.0
TICK_S = 1.0
REQUEST_S = 1.2

TICK_ROWS = 10_000
PRESEED_ROWS = 50_000
WARMUP_TICKS = 2
ANN_CORPUS = 2_000
ANN_K = 10
SMALL_BATCH, LARGE_BATCH = 8, 512

OPERATOR_MODULES = (
    "relational", "windows", "joins", "events", "dedup", "similarity",
    "text", "sampling", "dq", "aggregates", "tpch_extra",
)

LAYER_UNITS = {
    "session.start_s": "s",
    "host.calib_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.traced_op_p50_s": "s",
    "trace.overhead_frac": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "artifacts.cold_pass_s": "s",
    "queries.build_s": "s",
    **{
        f"operators.{m}.{part}": "s"
        for m in OPERATOR_MODULES
        for part in ("build_s", "exec_s")
    },
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "ingest.extract_s": "s",
    "ingest.load_s": "s",
    "ingest.redeliver_s": "s",
    "ingest.read_s": "s",
    "ingest.landing_bytes_per_row": "B",
    "sinks.table_files": "count",
    "sinks.table_bytes_per_row": "B",
    "similarity.index_build_s": "s",
    "similarity.serve_build_s.small": "s",
    "similarity.serve_build_s.large": "s",
    "similarity.serve_exec_s.small": "s",
    "similarity.serve_exec_s.large": "s",
    "serve.qdf_s": "s",
    "serve.http_s": "s",
}


def _timed_phase(run, ops, fn) -> list[float]:
    """Call ``fn(op)`` for each op. ``fn`` times its own engine calls and
    returns the seconds, or None when an output check failed; an
    exception also fails the op. A host probe runs after every op."""
    lat = []
    for op in ops:
        run.mark_timed_start()
        try:
            dt = fn(op)
        except Exception:  # noqa: BLE001 -- a failed op is counted, not fatal
            traceback.print_exc()
            dt = None
        lat.append(math.inf if dt is None else dt)
        run.probe()
    return lat


def _layers(untraced: list[float], traced: list[float]) -> dict:
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out["trace.untraced_op_p50_s"] = trace.median(untraced)
    out["trace.traced_op_p50_s"] = trace.median(traced)
    if out["trace.untraced_op_p50_s"]:
        out["trace.overhead_frac"] = (
            out["trace.traced_op_p50_s"] / out["trace.untraced_op_p50_s"] - 1.0
        )
    return out


def _spark_counts(out: dict, counts: list[dict]) -> None:
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = trace.median(c.get(key, 0) for c in counts)


def _schedule(rng, n: int, n_special: int) -> list[bool]:
    """``n`` flags with exactly ``n_special`` set, at seeded positions:
    every seed does the same amount of each kind of work."""
    flags = np.zeros(n, dtype=bool)
    flags[rng.choice(n, n_special, replace=False)] = True
    return flags.tolist()


# --------------------------------------------------------------- analytics


def headline_per_module(registry) -> list[str]:
    """The first ``bench.HEADLINE`` query of each operator module."""
    from bench import HEADLINE

    first: dict[str, str] = {}
    for name in HEADLINE:
        first.setdefault(_module(registry[name]), name)
    return list(first.values())


def _module(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def result_hash(pdf) -> str:
    """Order-insensitive hash of a query result (``tools/check.normalize``:
    columns sorted by name, rows sorted by every column)."""
    from tools.check import normalize

    text = normalize(pdf).to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _collect_and_check(run, spark, registry, names, data, expected, when) -> dict:
    """Collect every query, compare its result hash with the stored one.
    Returns query -> seconds for the call plus the collect."""
    took = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            pdf = registry[name].fn(spark, data).toPandas()
        except Exception:  # noqa: BLE001 -- reported as a failed check
            traceback.print_exc()
            run.problem(f"{when}: {name} raised")
            continue
        took[name] = time.perf_counter() - t0
        got = {"rows": len(pdf), "hash": result_hash(pdf)}
        if got != expected.get(name):
            run.problem(f"{when}: {name} returned {got}, expected {expected.get(name)}")
    return took


def analytics(run) -> dict:
    from bench import materialize
    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

    registry = load_all()
    names = headline_per_module(registry)
    data = run.path("data", "sfbench")
    datagen.write_tables(data)
    with open(EXPECTED_PATH) as f:
        expected = json.load(f)["analytics"]
    spark = run.start_spark()

    # Cold pass: builds the persisted artifacts and memos, warms every
    # query up once, and is the first output check.
    cold = _collect_and_check(
        run, spark, registry, list(run.rng.permutation(names)), data, expected, "cold pass"
    )

    def passes(n):
        return [str(q) for _ in range(n) for q in run.rng.permutation(names)]

    def op(name):
        t0 = time.perf_counter()
        materialize(registry[name].fn(spark, data))
        return time.perf_counter() - t0

    n_passes = max(1, int(run.seconds / ANALYTICS_PASS_S))
    plan = passes(n_passes)
    lat = _timed_phase(run, plan, op)
    res = {"latencies": lat, "items": sum(map(math.isfinite, lat))}

    if run.traced:
        tracer, counter = run.tracer, trace.SparkOpCounter(spark)
        counts, op_ids = [], []

        def traced_op(name):
            oid = tracer.new_op()
            op_ids.append(oid)
            c: dict = {}
            counts.append(c)
            with counter.op(name, c):
                with tracer.span("build", oid):
                    df = registry[name].fn(spark, data)
                with tracer.span("plan", oid):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec", oid):
                    materialize(df)
            return sum(tracer.durations(s).get(oid, 0.0) for s in ("build", "plan", "exec"))

        traced_lat = _timed_phase(run, plan, traced_op)
        res["latencies"] = lat + traced_lat
        layers = _layers(lat, traced_lat)
        warm = defaultdict(list)
        for name, dt in zip(plan, lat):
            warm[name].append(dt)
        layers["artifacts.cold_pass_s"] = sum(cold.values()) - sum(
            trace.median(warm[n]) for n in cold
        )
        # per pass: every query once, so pass sums compare across runs
        spans = {s: tracer.durations(s) for s in ("build", "plan", "exec")}
        per_pass = defaultdict(lambda: [0.0] * n_passes)
        for i, (name, oid, c) in enumerate(zip(plan, op_ids, counts)):
            p, m = i // len(names), _module(registry[name])
            build, plan_s, exec_s = (spans[s].get(oid, 0.0) for s in ("build", "plan", "exec"))
            per_pass["queries.build_s"][p] += build
            per_pass["catalyst.plan_s"][p] += plan_s
            per_pass["exec.run_s"][p] += exec_s
            per_pass[f"operators.{m}.build_s"][p] += build
            per_pass[f"operators.{m}.exec_s"][p] += exec_s
            for key in ("task_cpu_s", "input_mb", "shuffle_write_mb", "spill_mb"):
                per_pass[f"exec.{key}"][p] += c.get(key, 0)
        layers.update({key: trace.median(v) for key, v in per_pass.items()})
        _spark_counts(layers, counts)
        res["layers"] = layers

    # In a fixed order, so the engine's bounded memos end in the same
    # state whatever the seed; the heap is read after it.
    _collect_and_check(run, spark, registry, names, data, expected, "after timed phase")
    res["retained_mb"] = trace.retained_mb(spark)
    return res


# ----------------------------------------------------------------- service


def _dir_files(path: str, suffix: str) -> tuple[int, int]:
    """(count, bytes) of the data files below ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class _Ticks:
    """Scheduled extract->load ticks through ``job`` with an in-process
    fetcher, each followed by the read a downstream user makes: posts
    and latest ``processedAt`` per ``userId`` through
    ``ingest.read_table``. A re-delivery loads the previous landed object
    again through ``job.run_load`` and must append nothing."""

    SPANS = ("ingest.extract", "ingest.load", "ingest.redeliver", "ingest.read")

    def __init__(self, run, spark) -> None:
        from build_a_cloud_based_batch_etl_pipeline_spark import ingest, job
        from build_a_cloud_based_batch_etl_pipeline_spark.config import IngestConfig

        self.run, self.spark, self.ingest, self.job = run, spark, ingest, job
        self.cfg = IngestConfig(
            source_url="fake://posts",
            landing_uri=run.path("landing"),
            warehouse_uri=run.path("warehouse"),
            table_name="posts",
            checkpoint_uri=run.path("checkpoints"),
        )
        self.next_id = self.rows = 0
        self.last_file = None
        self.landing_bpr: list[float] = []

    def _payload(self, n: int) -> bytes:
        payload = datagen.posts_payload(self.run.rng, self.next_id, n)
        self.next_id += n
        return payload

    def _read(self):
        from pyspark.sql import functions as F

        return (
            self.ingest.read_table(self.spark, self.cfg)
            .groupBy("userId")
            .agg(F.count("*").alias("posts"), F.max("processedAt").alias("latest"))
            .collect()
        )

    def _check(self, appended: int, expect: int, users, what: str) -> bool:
        self.rows += expect
        seen = sum(r.posts for r in users)
        ok = appended == expect and seen == self.rows
        ok = ok and all(r.latest is not None for r in users)
        if not ok:
            self.run.problem(f"{what}: appended {appended} (expected {expect}), "
                             f"read {seen} rows of {self.rows}")
        return ok

    def preseed(self) -> None:
        """Load many ticks' worth of rows through the same path, so the
        key scan inside the idempotent append sees a table of similar
        size at every timed tick."""
        payload = self._payload(PRESEED_ROWS)
        env = self.job.run_pipeline(self.spark, self.cfg, fetcher=lambda _url: payload)
        self.last_file = env.get("file")
        self.rows = env.get("rows_appended", 0)
        if not env["success"] or self.rows != PRESEED_ROWS:
            self.run.problem(f"pre-seed load: {env}")

    def op(self, redeliver: bool):
        if redeliver:
            t0 = time.perf_counter()
            env = self.job.run_load(self.spark, self.cfg, landing_path=self.last_file)
            users = self._read()
            dt = time.perf_counter() - t0
        else:
            payload = self._payload(TICK_ROWS)
            t0 = time.perf_counter()
            env = self.job.run_pipeline(self.spark, self.cfg, fetcher=lambda _url: payload)
            users = self._read()
            dt = time.perf_counter() - t0
            self.last_file = env.get("file")
        if not env["success"]:
            self.run.problem(f"tick failed: {env.get('error')}")
            return None
        expect = 0 if redeliver else TICK_ROWS
        return dt if self._check(env["rows_appended"], expect, users, "tick") else None

    def traced(self, redeliver: bool, tracer, oid: int):
        """``op`` through the ingest calls ``job`` makes, one span each."""
        payload = None if redeliver else self._payload(TICK_ROWS)
        if redeliver:
            with tracer.span("ingest.redeliver", oid):
                n = self.ingest.load_landing_to_table(self.spark, self.cfg, self.last_file)
        else:
            with tracer.span("ingest.extract", oid):
                out_dir = self.ingest.extract_to_landing(
                    self.spark, self.cfg, fetcher=lambda _url: payload
                )
            with tracer.span("ingest.load", oid):
                n = self.ingest.load_landing_to_table(self.spark, self.cfg, out_dir)
            self.last_file = out_dir
        with tracer.span("ingest.read", oid):
            users = self._read()
        if not redeliver:
            self.landing_bpr.append(_dir_files(out_dir, ".json")[1] / TICK_ROWS)
        dt = sum(tracer.durations(s).get(oid, 0.0) for s in self.SPANS)
        expect = 0 if redeliver else TICK_ROWS
        return dt if self._check(n, expect, users, "traced tick") else None

    def layers(self, tracer) -> dict:
        out = {
            f"{s}_s": trace.median(tracer.durations(s).values()) for s in self.SPANS
        }
        out["ingest.landing_bytes_per_row"] = trace.median(self.landing_bpr)
        n_files, n_bytes = _dir_files(self.cfg.table_path(), ".parquet")
        out["sinks.table_files"] = n_files
        out["sinks.table_bytes_per_row"] = n_bytes / max(self.rows, 1)
        return out

    def final_check(self) -> None:
        """Table count = pre-seeded + fresh rows, ids unique, no null
        ``processedAt``."""
        from pyspark.sql import functions as F

        got = (
            self.ingest.read_table(self.spark, self.cfg)
            .agg(
                F.count("*").alias("rows"),
                F.countDistinct("id").alias("ids"),
                F.sum(F.col("processedAt").isNull().cast("int")).alias("null_ts"),
            )
            .first()
        )
        if (got.rows, got.ids, got.null_ts) != (self.rows, self.rows, 0):
            self.run.problem(
                f"final table: {got.rows} rows, {got.ids} distinct ids, "
                f"{got.null_ts} null processedAt; expected {self.rows} rows"
            )


class _Ann:
    """``POST /ann`` over one connection to ``serve.make_handler``'s
    ``HTTPServer``, running on a thread of this process."""

    SPANS = ("serve.qdf", "similarity.serve_build", "similarity.serve_exec")

    def __init__(self, run, spark, cfg, corpus, index_root: str) -> None:
        from build_a_cloud_based_batch_etl_pipeline_spark.serve import make_handler

        self.run, self.spark, self.corpus, self.index_root = run, spark, corpus, index_root
        self.next_vid = 1_000_000
        server = HTTPServer(("127.0.0.1", 0), make_handler(spark, cfg))
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        self.conn = http.client.HTTPConnection(
            "127.0.0.1", server.server_address[1], timeout=170
        )

        def stop() -> None:
            self.conn.close()
            server.shutdown()
            server.server_close()
            thread.join(timeout=60)

        run.on_close(stop)

    def rows(self, rng, batch: int) -> list:
        """Perturbed corpus vectors with fresh query ids."""
        idx = rng.integers(0, len(self.corpus), batch)
        vecs = self.corpus[idx].astype(np.float64) + rng.normal(
            0.0, 0.01, (batch, self.corpus.shape[1])
        )
        first, self.next_vid = self.next_vid, self.next_vid + batch
        return [(first + i, v.tolist()) for i, v in enumerate(vecs)]

    def post(self, rows):
        """One request: (seconds, status, result rows)."""
        body = json.dumps(
            {
                "index_root": self.index_root,
                "k": ANN_K,
                "queries": [{"vec_id": v, "embedding": e} for v, e in rows],
            }
        )
        t0 = time.perf_counter()
        self.conn.request(
            "POST", "/ann", body=body, headers={"Content-Type": "application/json"}
        )
        resp = self.conn.getresponse()
        raw = resp.read()
        dt = time.perf_counter() - t0
        return dt, resp.status, json.loads(raw).get("results") or []

    def _check(self, rows, status: int, results, what: str) -> bool:
        ok = status == 200 and len(results) == len(rows) * ANN_K
        ok = ok and {r["qid"] for r in results} == {v for v, _e in rows}
        if not ok:
            self.run.problem(f"{what}: status {status}, {len(results)} rows "
                             f"for {len(rows)} queries")
        return ok

    def op(self, rows):
        dt, status, results = self.post(rows)
        return dt if self._check(rows, status, results, "request") else None

    def traced(self, rows, tracer, oid: int):
        """The handler's engine calls, in its order, one span each."""
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
            serve_ann_ivf_pq,
        )

        size = "small" if len(rows) == SMALL_BATCH else "large"
        with tracer.span("serve.qdf", oid, size=size):
            q_df = self.spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with tracer.span("similarity.serve_build", oid, size=size):
            out_df = serve_ann_ivf_pq(self.spark, q_df, self.index_root, k=ANN_K, nprobe=None)
        with tracer.span("similarity.serve_exec", oid, size=size):
            results = [
                {"qid": r.qid, "nid": r.nid, "adc_score": r.adc_score}
                for r in out_df.collect()
            ]
        dt = sum(tracer.durations(s).get(oid, 0.0) for s in self.SPANS)
        return dt if self._check(rows, 200, results, "traced request") else None

    @staticmethod
    def layers(tracer, http_and_traced) -> dict:
        out = {}
        for name in ("serve_build", "serve_exec"):
            for size in ("small", "large"):
                out[f"similarity.{name}_s.{size}"] = trace.median(
                    s["end"] - s["start"] for s in tracer.spans
                    if s["name"] == f"similarity.{name}" and s["size"] == size
                )
        out["serve.qdf_s"] = trace.median(tracer.durations("serve.qdf").values())
        out["serve.http_s"] = trace.median(
            http - own for http, own in http_and_traced
            if math.isfinite(http) and math.isfinite(own)
        )
        return out

    def probe(self):
        """A fixed request: its ``(qid, nid, adc_score)`` rows, sorted."""
        fixed = self.rows(np.random.default_rng(datagen.DATA_SEED + 1), SMALL_BATCH)
        rows = [(i, e) for i, (_vid, e) in enumerate(fixed)]
        _dt, status, results = self.post(rows)
        self._check(rows, status, results, "probe request")
        return rows, sorted((r["qid"], r["nid"], r["adc_score"]) for r in results)

    def final_check(self, before) -> None:
        """The probe answers as it did before the timed phase, and as a
        direct ``serve_ann_ivf_pq`` call does."""
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
            serve_ann_ivf_pq,
        )

        rows, after = self.probe()
        q_df = self.spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        direct = sorted(
            (r.qid, r.nid, r.adc_score)
            for r in serve_ann_ivf_pq(self.spark, q_df, self.index_root, k=ANN_K).collect()
        )
        if not (before == after == direct):
            self.run.problem("probe request: results differ before/after the timed "
                             "phase or from a direct serve_ann_ivf_pq call")


def service(run) -> dict:
    """The engine's service surface in one Spark application: scheduled
    ticks and ``/ann`` requests, interleaved in a seeded order."""
    from build_a_cloud_based_batch_etl_pipeline_spark.config import IngestConfig
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        build_pq_index,
    )

    data = run.path("data", "annbench")
    corpus = datagen.write_embeddings(data, ANN_CORPUS)
    spark = run.start_spark()
    ticks = _Ticks(run, spark)
    ticks.preseed()
    index_root = run.path("ann-index")
    t0 = time.perf_counter()
    build_pq_index(spark, data, index_root)
    index_build_s = time.perf_counter() - t0
    ann = _Ann(run, spark, ticks.cfg, corpus, index_root)
    _rows, before = ann.probe()

    rng = run.rng
    for redeliver in _schedule(rng, WARMUP_TICKS, 1):
        ticks.op(redeliver)
    ann.op(ann.rows(rng, LARGE_BATCH))

    n_ticks = max(5, round(run.seconds / TICK_S))
    n_req = 4 * max(1, int(run.seconds / (4 * REQUEST_S) + 0.5))
    plan = [("tick", r) for r in _schedule(rng, n_ticks, n_ticks // 5)] + [
        ("ann", ann.rows(rng, LARGE_BATCH if large else SMALL_BATCH))
        for large in _schedule(rng, n_req, n_req // 4)
    ]
    plan = [plan[i] for i in rng.permutation(len(plan))]

    def items(op) -> int:
        kind, arg = op
        return len(arg) if kind == "ann" else (0 if arg else TICK_ROWS)

    def run_op(op):
        kind, arg = op
        return ann.op(arg) if kind == "ann" else ticks.op(arg)

    lat = _timed_phase(run, plan, run_op)
    res = {
        "latencies": lat,
        "items": sum(items(op) for op, dt in zip(plan, lat) if math.isfinite(dt)),
    }

    if run.traced:
        tracer, counter = run.tracer, trace.SparkOpCounter(spark)
        counts: list[dict] = []

        def traced_op(op):
            kind, arg = op
            oid = tracer.new_op()
            c: dict = {}
            counts.append(c)
            with counter.op(kind, c):
                if kind == "ann":
                    return ann.traced(arg, tracer, oid)
                return ticks.traced(arg, tracer, oid)

        traced_lat = _timed_phase(run, plan, traced_op)
        res["latencies"] = lat + traced_lat
        layers = _layers(lat, traced_lat)
        layers.update(ticks.layers(tracer))
        layers.update(_Ann.layers(tracer, [
            (h, t) for op, h, t in zip(plan, lat, traced_lat) if op[0] == "ann"
        ]))
        layers["similarity.index_build_s"] = index_build_s
        _spark_counts(layers, counts)
        res["layers"] = layers

    res["retained_mb"] = trace.retained_mb(spark)
    ticks.final_check()
    ann.final_check(before)
    return res
