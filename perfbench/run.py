#!/usr/bin/env python3
"""Estimation benchmark for artan_spark: batch and streaming, one JVM per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload fleet --seed 1 --seconds 17 --trace 0

Each run sets up a Spark session through ``artan_spark.sources.session_builder``
on ``local[<cpus>]`` three times (the reported ``setup_s`` is the median),
then:

1. batch phase (five sixths of ``--seconds``): the five operators of
   ``ops.py``, built from model parameters only, run into Spark's ``noop``
   sink, first in two untimed warm-up rounds (the first one's output on
   sampled keys is checked against ``oracle.py``), then in timed rounds;
   memory is read after them, once the driver JVM has run a full collection;
2. stream phase (the last sixth): an open loop on Spark's ``rate``
   source runs a 1-D local-level Kalman filter on the default streaming
   backend and default trigger into a ``foreachBatch`` sink, then the sampled
   keys' emitted states are checked against the oracle.

Workloads (see ``gen.py``): ``fleet`` has many evenly sized keys (batch) and
1,000 round-robin keys (stream); ``hot`` gives half of all rows to one key.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics, read from spans, the SQL metrics
of each action's executed plan and every ``StreamingQueryProgress``, and writes
the spans to ``.bench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd

import gen
import oracle
import ops
import procs
from tracing import PlanMetrics, RssSampler, Tracer, tree_rss_bytes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUP_REPS = 3
WARMUP_ROWS = 200
WARMUP_ROUNDS = 2  # untimed batch rounds; job times still fall through the second
TIMED_ROUNDS = 3  # timed batch rounds, at least
STREAM_RATE = 250  # rows/s, open loop; about a third of what the stream sustains
STREAM_START_S = 2  # about how long a query takes to start its source
STREAM_WARM_S = 2  # source seconds discarded before the latency window
STREAM_DRAIN_S = 10  # how long window rows may take to reach the sink
RSS_SETTLE_MAX_S = 5
SAMPLED_KEYS = {"fleet": 6, "hot": 3}  # plus the hot key on ``hot``
STREAM_SAMPLED_KEYS = 6


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("fleet", "hot"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.run_dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.run_id = f"{self.workload}-{self.seed}-{os.getpid()}"
        self.tracer = Tracer(bool(args.trace), self.workload, self.run_id)
        self.rss = RssSampler()
        self.rss_bytes = float("nan")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setups: list[dict] = []
        self.timings: dict[str, list[tuple[float, float]]] = {}
        self.untraced: dict[str, list[float]] = {}
        self.plan_stats: dict[str, list[dict]] = {}
        self.stream: dict = {}

    # -- session ---------------------------------------------------------------

    def _session(self):
        from artan_spark.sources import session_builder

        b = (
            session_builder("perfbench", master=f"local[{self.cpus}]")
            .config("spark.local.dir", str(self.run_dir / "local"))
            .config("spark.sql.warehouse.dir", str(self.run_dir / "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={self.run_dir / 'tmp'}")
            .config("spark.ui.showConsoleProgress", "false")
        )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, rep: int):
        """One set-up: session, generated input (cached), worker warm-up."""
        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
            self.spark = None
        with self.tracer.span("setup", rep=rep) as root:
            with self.tracer.span("setup.session", root["id"]) as s_session:
                self.spark = self._session()
            with self.tracer.span("setup.datagen", root["id"]) as s_data:
                self.inputs = gen.batch_frame(self.workload, self.seed)
                self.df = ops.input_frame(self.spark, self.inputs).cache()
                self.n_rows = self.df.count()
            with self.tracer.span("setup.warmup", root["id"]) as s_warm:
                # boots the Python workers the folds run in
                ops.build("lkf").transform(self.df.limit(WARMUP_ROWS)).write.format("noop").mode(
                    "overwrite").save()
        self.setups.append({"total": root["dur"], "session": s_session["dur"],
                            "datagen": s_data["dur"], "warmup": s_warm["dur"]})

    # -- batch -----------------------------------------------------------------

    def _sampled_batch_keys(self) -> list[str]:
        counts = self.inputs["key"].value_counts()
        rng = np.random.default_rng([self.seed, 2])
        keys = sorted(counts.index)
        picked = list(rng.choice(keys, size=min(SAMPLED_KEYS[self.workload], len(keys)), replace=False))
        if self.workload == "hot":
            picked.append(counts.index[0])
        return sorted(set(picked))

    def _job(self, name: str, keys: list[str], traced: bool, check: bool):
        """One operator run into the noop sink: (plan seconds, run seconds),
        or None if it failed. With ``check``, the sampled keys' output rows
        are gathered during the run and compared with the oracle."""
        self.attempted += 1
        self.tracer.enabled = traced
        plan_metrics = PlanMetrics(self.spark) if traced else None
        try:
            with self.tracer.span(name) as root:
                with self.tracer.span(f"{name}.plan", root["id"]) as s_plan:
                    out = ops.build(name).transform(self.df)
                if check:
                    out, sampled = ops.observe_sampled(name, out, keys)
                with self.tracer.span(f"{name}.run", root["id"]) as s_run:
                    out.write.format("noop").mode("overwrite").save()
            if check:
                self.errors += ops.check(name, sampled(), self.inputs, keys)
        except Exception:  # a failed job is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{name}: job failed\n{traceback.format_exc(limit=3)}")
            if plan_metrics is not None:
                plan_metrics.close()
            return None
        finally:
            self.tracer.enabled = bool(self.args.trace)
        if plan_metrics is not None:
            qe = plan_metrics.wait_for("overwrite")
            plan_metrics.close()
            if qe is not None:
                self.plan_stats.setdefault(name, []).append(plan_metrics.summarize(qe))
        return s_plan["dur"], s_run["dur"]

    def batch_phase(self, seconds: float):
        """Untimed warm-up rounds, then timed jobs round-robin over the
        operators until ``seconds`` have passed and at least TIMED_ROUNDS
        rounds are complete. The first warm-up round also gathers the sampled
        keys' output rows for the oracle through an ``observe()``, which
        changes the plan. A traced run follows each traced job with an
        untraced one; the difference is the tracing overhead."""
        keys = self._sampled_batch_keys()
        for rnd in range(WARMUP_ROUNDS):
            for name in ops.OPS:
                self._job(name, keys, traced=False, check=rnd == 0)
        if self.args.trace:
            self.rss.start()
        deadline = time.monotonic() + seconds
        done = 0
        while done < TIMED_ROUNDS * len(ops.OPS) or time.monotonic() < deadline:
            name = ops.OPS[done % len(ops.OPS)]
            done += 1
            t = self._job(name, keys, traced=bool(self.args.trace), check=False)
            if t is not None:
                self.timings.setdefault(name, []).append(t)
            if self.args.trace:
                t = self._job(name, keys, traced=False, check=False)
                if t is not None:
                    self.untraced.setdefault(name, []).append(sum(t))
        if self.args.trace:
            self.rss.stop()
        # memory after a full collection of the driver JVM, which shrinks
        # G1's heap to its live data: a run's peak RSS follows how far G1's
        # sizing heuristics happened to grow the heap (see README.md). Read
        # here, not later: how many Python workers the stream's tasks fork
        # varies from run to run
        self.spark._jvm.java.lang.System.gc()
        self.rss_bytes = self._settled_rss()

    @staticmethod
    def _settled_rss() -> int:
        """Tree RSS once it stops falling: G1 returns freed heap regions to
        the OS on a background thread after the collection."""
        rss, deadline = tree_rss_bytes(), time.monotonic() + RSS_SETTLE_MAX_S
        while time.monotonic() < deadline:
            time.sleep(0.2)
            now = tree_rss_bytes()
            if abs(now - rss) < 2**20:
                return now
            rss = now
        return rss

    # -- stream ----------------------------------------------------------------

    def stream_phase(self, window: int):
        from pyspark.sql import functions as F

        from artan_spark.operators import LinearKalmanFilter

        key, z = gen.stream_columns(self.workload, self.seed)
        # rows due after the cutoff are dropped before the operator, so once
        # the window is out the micro-batches turn cheap and the query idles
        # between triggers, where it can be stopped without interrupting one
        start = time.time()
        cutoff = start + STREAM_START_S + STREAM_WARM_S + window
        source = (
            self.spark.readStream.format("rate").option("rowsPerSecond", STREAM_RATE).load()
            .where(F.col("timestamp") < F.lit(cutoff).cast("timestamp"))
            .select(key.alias("key"), "timestamp", F.array(z).alias("z"))
        )
        out = ops.local_level(LinearKalmanFilter, time_col="timestamp").transform(source).select(
            "stateKey", "stateIndex",
            F.unix_micros("eventTime").alias("ev_us"),
            F.col("state.mean")[0].alias("mean"),
            F.col("state.covariance.values")[0].alias("var"),
        )
        t1 = cutoff
        t0 = t1 - window
        batches: list[pd.DataFrame] = []
        sink_s: list[float] = []

        with self.tracer.span("stream") as root:

            def sink(batch_df, batch_id):
                with self.tracer.span("stream.sink", root["id"], batch=batch_id) as s:
                    pdf = batch_df.toPandas()
                pdf["sink_s"] = time.time()
                batches.append(pdf)
                sink_s.append(s["dur"])

            with self.tracer.span("stream.start", root["id"]):
                query = (
                    out.writeStream.queryName(f"perfbench_{self.workload}")
                    .foreachBatch(sink)
                    .option("checkpointLocation", str(self.run_dir / "checkpoint"))
                    .start()
                )
            try:
                # the window is complete once its last row (due just before
                # the cutoff) has reached the sink
                last_due_us = (t1 - 2.0 / STREAM_RATE) * 1e6
                while query.isActive and time.time() < t1 + STREAM_DRAIN_S:
                    time.sleep(0.02)
                    if time.time() > t1 and any(len(b) and b["ev_us"].max() >= last_due_us
                                                for b in list(batches)):
                        break
            finally:
                with self.tracer.span("stream.stop", root["id"]):
                    wait_until = time.time() + 10
                    while query.isActive and query.status["isTriggerActive"] and time.time() < wait_until:
                        time.sleep(0.005)
                    progress = [json.loads(p.json) for p in query.recentProgress]
                    exc = query.exception()
                    query.stop()

        self.attempted += len(sink_s)
        if exc is not None or not batches:
            self.failed += 1
            self.attempted += 1
            self.errors.append(f"stream: {exc or 'no output before the deadline'}")
            return
        rows = pd.concat(batches, ignore_index=True)
        # value 0 (key 0, stateIndex 1) is due when the source starts; a slow
        # start shortens the window instead of counting rows never due
        first = rows.loc[(rows["stateKey"] == gen.stream_key_name(0)) & (rows["stateIndex"] == 1), "ev_us"]
        src_start = float(first.iloc[0]) / 1e6 if len(first) else t0
        t0 = max(t0, src_start)
        due = round(STREAM_RATE * (t1 - t0))
        deadline = t1 + STREAM_DRAIN_S
        in_window = rows[rows["ev_us"].between(t0 * 1e6, t1 * 1e6, inclusive="left")]
        emitted = in_window[in_window["sink_s"] <= deadline]
        latency = (emitted["sink_s"] - emitted["ev_us"] / 1e6).to_numpy()
        # a row that missed the deadline ranks behind every emitted one
        missing = due - len(emitted)
        if missing > 0:
            latency = np.concatenate([latency, np.full(missing, deadline - t0)])
        self.stream = {
            "latency_p50_s": float(np.percentile(latency, 50)),
            "latency_p99_s": float(np.percentile(latency, 99)),
            "emitted_ratio": len(emitted) / due,
            "sink_s": sink_s,
            "progress": [p for p in progress
                         if pd.Timestamp(p["timestamp"]).timestamp() >= t0 and p["numInputRows"] > 0],
        }
        self.errors += self._check_stream(rows, src_start, t1)

    def _check_stream(self, rows, src_start: float, t1: float) -> list[str]:
        """Recompute sampled keys from their inputs, in emission order."""
        n_keys = gen.STREAM_KEYS[self.workload] + (1 if self.workload == "hot" else 0)
        rng = np.random.default_rng([self.seed, 3])
        sampled = sorted({0, *rng.choice(n_keys, size=STREAM_SAMPLED_KEYS - 1, replace=False).tolist()})
        # every value due before the cutoff, with a second to spare
        values = np.arange(0, int(STREAM_RATE * (t1 - src_start + 1)), dtype=np.int64)
        key_of = gen.stream_key_index(values, self.workload, self.seed)
        errors = []
        for k in sampled:
            name = gen.stream_key_name(k)
            got = rows[rows["stateKey"] == name].sort_values("stateIndex")
            if got.empty:
                errors.append(f"stream[{name}]: no output rows")
                continue
            if not np.all(np.diff(got["ev_us"].to_numpy()) > 0):
                errors.append(f"stream[{name}]: event times not increasing with stateIndex")
            z = gen.stream_z(values[key_of == k][: len(got)], self.workload, self.seed)
            errors += oracle.check_lkf(f"stream:{name}", z, {
                "stateIndex": got["stateIndex"].to_numpy(),
                "mean": got["mean"].to_numpy(),
                "var": got["var"].to_numpy(),
            }, ops.LEVEL)
        return errors

    # -- whole run ---------------------------------------------------------------

    def run(self) -> dict:
        phases = [("start", time.monotonic())]
        try:
            for rep in range(SETUP_REPS):
                self.setup(rep)
            phases.append(("setup", time.monotonic()))
            window = max(1, round(self.args.seconds / 6))
            self.batch_phase(self.args.seconds - window)
            phases.append(("batch", time.monotonic()))
            self.spark.catalog.clearCache()
            self.stream_phase(window)
            phases.append(("stream", time.monotonic()))
            for name, t in self.timings.items():
                print(f"perfbench: {name} job seconds " + " ".join(f"{p + q:.3f}" for p, q in t),
                      file=sys.stderr)
            print("perfbench: set-up seconds " + " ".join(
                f"{s['total']:.2f} ({s['session']:.2f}/{s['datagen']:.2f}/{s['warmup']:.2f})"
                for s in self.setups), file=sys.stderr)
            print("perfbench: phase seconds " + " ".join(
                f"{name}={t - prev:.1f}" for (_, prev), (name, t) in zip(phases, phases[1:])),
                file=sys.stderr)
        finally:
            if self.spark is not None:
                self.spark.stop()
        return self.result()

    def result(self) -> dict:
        metrics = {}
        if self.args.trace:
            metrics = self.layer_metrics()
        else:
            metrics["setup_s"] = (median([s["total"] for s in self.setups]), "s")
            for name in ops.OPS:
                t = [p + r for p, r in self.timings.get(name, [])]
                metrics[f"{name}_rows_per_s"] = (self.n_rows / median(t), "rows/s")
            metrics["emitted_ratio"] = (self.stream.get("emitted_ratio", float("nan")), "ratio")
            metrics["rss_mb"] = (self.rss_bytes / 2**20, "MB")
        # JSON has no NaN: a metric that could not be measured reads 0 and
        # makes the run incorrect
        missing = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
        ok = not self.errors and self.failed == 0 and bool(self.stream) and not missing
        for e in self.errors[:20] + [f"not measured: {k}" for k in missing]:
            print(f"perfbench: {e}", file=sys.stderr)
        return {
            "correct": bool(ok),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self) -> dict:
        m: dict[str, tuple[float, str]] = {}
        for part in ("session", "datagen", "warmup"):
            m[f"setup.{part}_s"] = (median([s[part] for s in self.setups]), "s")
        overhead = 0.0
        for name in ops.OPS:
            t = self.timings.get(name, [])
            m[f"{name}.plan_s"] = (median([p for p, _ in t]), "s")
            m[f"{name}.run_s"] = (median([r for _, r in t]), "s")
            stats = self.plan_stats.get(name, [])
            for key, metric, unit, factor in (
                ("python_ms", "python_s", "s", 1e-3),
                ("python_boot_ms", "python_boot_s", "s", 1e-3),
                ("sent_bytes", "arrow_sent_bytes", "bytes", 1),
                ("recv_bytes", "arrow_recv_bytes", "bytes", 1),
                ("shuffle_bytes", "shuffle_bytes", "bytes", 1),
                ("tasks", "tasks", "count", 1),
            ):
                m[f"{name}.{metric}"] = (median([s[key] * factor for s in stats]), unit)
            if t and self.untraced.get(name):
                overhead += median([p + r for p, r in t]) - median(self.untraced[name])
        m["trace.overhead_s"] = (overhead, "s")
        m["mem.peak_rss_mb"] = (self.rss.peak_bytes / 2**20, "MB")
        progress = self.stream.get("progress", [])

        def prog(path, factor=1e-3):
            vals = []
            for p in progress:
                v = p
                for k in path:
                    v = v[k] if isinstance(v, dict) else v[0][k]
                vals.append(v * factor)
            return median(vals)

        m["stream.latency_p50_s"] = (self.stream.get("latency_p50_s", float("nan")), "s")
        m["stream.latency_p99_s"] = (self.stream.get("latency_p99_s", float("nan")), "s")
        m["stream.batch_s"] = (prog(("durationMs", "triggerExecution")), "s")
        m["stream.planning_s"] = (prog(("durationMs", "queryPlanning")), "s")
        m["stream.wal_s"] = (prog(("durationMs", "walCommit")), "s")
        m["state.update_s"] = (prog(("stateOperators", "allUpdatesTimeMs")), "s")
        m["state.commit_s"] = (prog(("stateOperators", "commitTimeMs")), "s")
        m["state.rows_total"] = (prog(("stateOperators", "numRowsTotal"), 1), "count")
        m["state.memory_bytes"] = (prog(("stateOperators", "memoryUsedBytes"), 1), "bytes")
        m["sink.s"] = (median(self.stream.get("sink_s", [])), "s")
        return m

    def write_trace(self, out_dir: Path):
        out_dir.mkdir(parents=True, exist_ok=True)
        path = out_dir / f"trace-{self.run_id}.json"
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "workload": self.workload, "seed": self.seed,
                       "spans": self.tracer.spans, "plan_metrics": self.plan_stats,
                       "stream_progress": self.stream.get("progress", [])}, f, default=str)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "artan_spark" / "__init__.py").is_file():
        print(f"perfbench: no artan_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    scratch = ROOT / ".bench_tmp"
    scratch.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch))
    for sub in ("local", "tmp", "warehouse"):
        (run_dir / sub).mkdir()
    # the JVM and the Python workers it forks inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tempfile.tempdir = None
    procs.become_subreaper()
    # a run stopped from outside still stops its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    left: list[int] = []
    try:
        bench = Bench(args, run_dir)
        result = bench.run()
        if args.trace:
            bench.write_trace(ROOT / ".bench_out")
    finally:
        left = procs.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass
    if left:
        print(f"perfbench: processes still running after the run: {left}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
