"""Benchmark entry point.

    python3 perfbench/run.py --workload dp_release --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. One run starts a private local Spark session,
prepares the workload's seeded inputs, warms up, runs a fixed number of
closed-loop cycles sized to ``--seconds``, runs the untimed correctness gate
and prints one JSON object as the last line of standard output. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the package's layer
functions and reports per-layer metrics from the spans and the Spark event
log. The exit code is 0 only if every op and every correctness check
passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

sys.dont_write_bytecode = True  # leave no caches in the checkout

from proctree import (TreeSampler, descendants,  # noqa: E402
                      host_cpu_ticks, running, steal_share)

TICKS_START = host_cpu_ticks()

from workloads import WORKLOADS, OpFailed  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")


LAYER_FIELDS = {
    "dp_engine": ["jobs"],
    "contribution_bounders": ["shuffle_write_mb", "executor_cpu_s",
                              "spill_mb"],
    "noise": ["python_init_s", "python_run_s", "arrow_bytes_mb"],
    "budget_accounting": [],
    "analysis.histograms": ["jobs", "stages", "shuffle_write_mb",
                            "executor_cpu_s"],
    "analysis.utility_analysis": ["jobs", "stages", "shuffle_write_mb",
                                  "executor_cpu_s", "python_run_s"],
    "analysis.parameter_tuning": ["jobs"],
    "streaming": ["jobs", "python_init_s", "python_run_s",
                  "replays_skipped"],
    "store": ["jobs", "files_per_table", "bytes_written_per_input_byte",
              "refresh_wall_s"],
    "operators.similarity": ["jobs", "tasks", "python_run_s"],
    "spark": ["catalyst_analysis_s", "catalyst_optimization_s",
              "catalyst_planning_s", "executor_run_s", "executor_cpu_s",
              "jvm_gc_s", "python_run_s", "cpu_per_wall"],
}
UNITS = {"calls": "count", "jobs": "count", "stages": "count",
         "tasks": "count", "replays_skipped": "count",
         "files_per_table": "count", "bytes_written_per_input_byte": "ratio",
         "cpu_per_wall": "ratio", "rows_per_s": "1/s", "cycles": "count",
         "host_steal": "ratio"}


def _unit(field: str) -> str:
    if field in UNITS:
        return UNITS[field]
    return "MB" if field.endswith("_mb") else "s"


def per_layer_names() -> list[str]:
    """Every per-layer metric the traced run prints, in order."""
    names = [f"{layer}.{f}" for layer, extra in LAYER_FIELDS.items()
             for f in ["calls", "wall_s", "self_s"] + extra]
    return names + ["trace.rows_per_s", "trace.cycles", "trace.host_steal"]


def start_session(tmp: str, trace: bool):
    from pyspark.sql import SparkSession
    # Half the cores run tasks: each task of a pandas UDF also keeps a
    # Python worker busy, and the driver JVM and Python driver need the
    # rest, so the run never has more busy threads than the host has cores.
    n = max(1, (os.cpu_count() or 1) // 2)
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", f"{tmp}/warehouse")
         .config("spark.driver.extraJavaOptions",
                 f"-Dderby.system.home={tmp}/derby "
                 f"-Dderby.stream.error.file={tmp}/derby/derby.log "
                 f"-Djava.io.tmpdir={tmp}/jvm -XX:-UsePerfData")
         .config("spark.hadoop.javax.jdo.option.ConnectionURL",
                 f"jdbc:derby:;databaseName={tmp}/metastore_db;create=true"))
    if trace:
        os.makedirs(f"{tmp}/events")
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"{tmp}/events")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    started = descendants()
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # The Python worker daemon outlives the JVM by a moment.
    deadline = time.monotonic() + 30
    while running(started) and time.monotonic() < deadline:
        time.sleep(0.1)


def tail(samples: list[float]):
    """(percentile, value): the highest of p99/p95/p90/p75 that has at
    least ten samples beyond it, or None."""
    s = sorted(samples)
    for q in (99, 95, 90, 75):
        idx = math.ceil(q / 100 * len(s)) - 1
        if len(s) - 1 - idx >= 10:
            return q, s[idx]
    return None


class Runner:
    """One run of one workload. Times are reported as measured; the host's
    steal share over each op is printed beside it as a diagnostic."""

    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None
        self.times: dict[str, list[float]] = {}
        self.steal: dict[str, list[float]] = {}

    # -- the action that executes a lazy plan --------------------------
    def action(self, df, kind: str):
        tracer = self.tracer
        if tracer is None or not tracer.enabled:
            return df.collect()
        span = tracer.begin("spark", "collect")
        try:
            rows = df.collect()
        finally:
            tracer.end(span)
        phases = df._jdf.queryExecution().tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            if phases.contains(p):
                span.phases[p] = phases.apply(p).durationMs() / 1e3
        return rows

    def op(self, w, kind: str, timed: bool) -> tuple[float, int]:
        """One op: (seconds, input rows). An op that raises or fails its
        check is counted as failed."""
        tracer = self.tracer
        self.attempted += 1
        first_span = len(tracer.spans) if tracer else 0
        span = tracer.begin("bench", kind) if tracer and tracer.enabled \
            else None
        ticks0 = host_cpu_ticks()
        t0 = time.perf_counter()
        rows = 0
        try:
            rows = w.run(kind)
        except OpFailed as e:
            self.failures.append(f"{kind}: {e}")
        except Exception:  # an op that raises is a failed op; keep going
            self.failures.append(f"{kind}: {traceback.format_exc()}")
        dt = time.perf_counter() - t0
        steal = steal_share(ticks0, host_cpu_ticks())
        if span is not None:
            tracer.end(span)
        w.spark.catalog.clearCache()
        if timed:
            self.times.setdefault(kind, []).append(dt)
            self.steal.setdefault(kind, []).append(steal)
            if span is not None and kind == "release_deep":
                self._isolate_bounders(w, first_span)
        return dt, rows

    def _isolate_bounders(self, w, first_span: int) -> None:
        """Materialise each bounding plan of the op alone (noop write),
        crediting its Spark work to the bounding span. Not timed."""
        tracer = self.tracer
        for s in tracer.spans[first_span:]:
            parent = tracer.spans[s.parent] if s.parent is not None else None
            if s.layer == "contribution_bounders" and (
                    parent is None or parent.layer != s.layer) and \
                    hasattr(s.result, "write"):
                tracer.run_as(s, lambda: s.result.write.format("noop")
                              .mode("overwrite").save())
        w.spark.catalog.clearCache()

    def cycle(self, w, timed: bool) -> tuple[float, int]:
        """One op of each kind: (seconds, input rows)."""
        wall, rows = 0.0, 0
        for kind in w.kinds:
            dt, n = self.op(w, kind, timed)
            wall, rows = wall + dt, rows + n
        return wall, rows

    # -- one run -------------------------------------------------------
    def run(self) -> int:
        spark = start_session(self.tmp, self.args.trace)
        try:
            return self._run(spark)
        finally:
            stop_session(spark)

    def _run(self, spark) -> int:
        args = self.args
        if args.trace:
            from tracing import Tracer
            self.tracer = Tracer(spark.sparkContext)
            self.tracer.install()
        session_s = time.perf_counter() - T_START
        w = WORKLOADS[args.workload](spark, args.seed, self.action)

        t0 = time.perf_counter()
        w.prepare(f"{self.tmp}/inputs")
        prepare_s = time.perf_counter() - t0
        warm = [(kind, self.op(w, kind, timed=False)[0])
                for kind in w.warm_ops]
        warm_s = time.perf_counter() - t0 - prepare_s
        setup_s = session_s + prepare_s + warm_s
        setup_steal = steal_share(TICKS_START, host_cpu_ticks())

        # Timed phase: a fixed number of closed-loop cycles, so that every
        # commit times the same ops on the same program state.
        cycles = w.timed_cycles(args.seconds)
        sampler = TreeSampler()
        w.part_times.clear()
        if self.tracer:
            self.tracer.enabled = True
        first_span = len(self.tracer.spans) if self.tracer else 0
        sampler.start()
        wall, rows = 0.0, 0
        for _ in range(cycles):
            dt, n = self.cycle(w, timed=True)
            wall, rows = wall + dt, rows + n
        sampler.stop()
        if self.tracer:
            self.tracer.enabled = False
        timed_spans = self.tracer.spans[first_span:] if self.tracer else []

        t0 = time.perf_counter()
        self.attempted += 1  # the gate counts as one op
        try:
            checks = w.verify()
        except Exception:  # a gate that cannot run has failed
            checks = [traceback.format_exc()]
        if checks:
            self.failures.append("correctness gate: " + "; ".join(checks))
        verify_s = time.perf_counter() - t0
        store_files = _store_files(f"{self.tmp}/warehouse",
                                   getattr(w, "store", None))
        stop_session(spark)  # flushes the event log

        for part, ts in w.part_times.items():
            print(f"{part}_p50_s {statistics.median(ts):.4f} s "
                  f"(n={len(ts)}, part of an op)")
        for kind in w.kinds:
            ts = self.times.get(kind, [])
            if not ts:
                print(f"{kind}: no timed op")
                continue
            t = tail(ts)
            print(f"{kind}_p50_s {statistics.median(ts):.4f} s (n={len(ts)})"
                  "; " + (f"{kind}_tail_s {t[1]:.4f} s (p{t[0]})" if t else
                          f"{kind}_tail_s dropped: n={len(ts)} < 11")
                  + "; op times " + " ".join(f"{x:.3f}" for x in ts)
                  + "; host steal " + " ".join(
                      f"{x:.3f}" for x in self.steal[kind]))
        print(f"set-up {setup_s:.2f} s: session {session_s:.2f} s, "
              f"preparation {prepare_s:.2f} s, "
              f"warm-up {warm_s:.2f} s, host steal {setup_steal:.3f}; "
              f"timed: {cycles} cycles in {wall:.2f} s, host steal "
              f"{sampler.steal_share:.3f}; verify {verify_s:.2f} s")
        print("warm-up op times " + " ".join(f"{k} {dt:.3f}"
                                             for k, dt in warm))
        for f in self.failures:
            print(f"FAILED: {f}", file=sys.stderr)

        if args.trace:
            metrics = self._layer_metrics(w, timed_spans, cycles, wall,
                                          rows, store_files, sampler)
        else:
            a, b = w.kinds[0], w.kinds[1]
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (self.rows_per_s(w, rows, cycles), "1/s"),
                "cpu_s_per_cycle": (sampler.cpu_s / cycles, "s"),
                "peak_rss_mb": (sampler.peak_rss_bytes / 1024 ** 2, "MB"),
                "op_a_p50_s": (statistics.median(self.times[a]), "s"),
                "op_b_p50_s": (statistics.median(self.times[b]), "s"),
            }
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.6g} {unit}")
        print(json.dumps({
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 1 if self.failures else 0

    def rows_per_s(self, w, rows: int, cycles: int) -> float:
        """Input rows of one cycle over the sum of the per-kind median op
        times: the throughput of a typical cycle."""
        return rows / cycles / sum(statistics.median(self.times[k])
                                   for k in w.kinds)

    def _layer_metrics(self, w, spans, cycles, wall, rows, store_files,
                       sampler):
        """Per-layer totals of the timed phase, per cycle."""
        from tracing import fold_event_log, layer_metrics
        tracer = self.tracer
        groups, python = fold_event_log(f"{self.tmp}/events",
                                        tracer.udf_layer)
        timed_groups = {tracer.group(s) for s in spans}
        python = [p for p in python if p[0] in timed_groups]
        layers = layer_metrics(spans, groups, python, tracer.group)
        # The spark layer's executor fields cover every job of the phase.
        spark = layers.setdefault("spark", {})
        for f in ("executor_run_s", "executor_cpu_s", "jvm_gc_s"):
            spark[f] = sum(getattr(groups[g], f) for g in timed_groups
                           if g in groups)
        spark["python_run_s"] = sum(p[3] for p in python
                                    if p[2] == "time to run Python workers")
        for p in ("analysis", "optimization", "planning"):
            spark[f"catalyst_{p}_s"] = sum(s.phases.get(p, 0.0)
                                           for s in spans)
        store = layers.setdefault("store", {})
        store["refresh_wall_s"] = sum(
            s.end - s.start for s in spans if s.layer == "store"
            and s.name in ("refresh_table", "refresh_store"))
        input_bytes = getattr(w, "input_bytes", 0)
        ratios = {
            "spark.cpu_per_wall": (spark["executor_cpu_s"]
                                   + spark["python_run_s"]) / wall,
            "store.files_per_table": store_files,
            "store.bytes_written_per_input_byte": (
                store.get("output_mb", 0.0) * 1024 ** 2 / input_bytes
                if input_bytes else 0.0),
            "trace.rows_per_s": self.rows_per_s(w, rows, cycles),
            "trace.cycles": cycles,
            "trace.host_steal": sampler.steal_share,
        }
        streaming = layers.setdefault("streaming", {})
        streaming["replays_skipped"] = sum(
            1 for s in spans if s.layer == "streaming" and s.result is False)
        out = {}
        for name in per_layer_names():
            layer, _, field = name.rpartition(".")
            value = ratios[name] if name in ratios else \
                layers.get(layer, {}).get(field, 0.0) / cycles
            out[name] = (value, _unit(field))
        return out


def _store_files(warehouse: str, store: str | None) -> float:
    """Data files per table of the workload's store (0 without a store)."""
    if not store or not os.path.isdir(warehouse):
        return 0.0
    tables = [d for d in os.listdir(warehouse) if d.startswith(store + "_")]
    files = sum(1 for t in tables
                for _r, _d, fs in os.walk(os.path.join(warehouse, t))
                for f in fs if not f.startswith((".", "_")))
    return files / len(tables) if tables else 0.0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pipelinedp_spark")):
        print(f"pipelinedp_spark not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(TMP_PARENT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=TMP_PARENT)
    for d in ("py", "jvm"):
        os.makedirs(f"{tmp}/{d}")
    # Everything the run writes stays under its private root (the
    # environment's SPARK_LOCAL_DIRS would override spark.local.dir);
    # Python workers import the package from the checkout.
    os.environ.update({
        "TMPDIR": f"{tmp}/py",
        "SPARK_LOCAL_DIRS": f"{tmp}/local",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
    })
    tempfile.tempdir = None
    # A terminated run still stops Spark and removes its private root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        return Runner(args, tmp).run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
