"""The benchmark's workloads.

``stream_chains``: cold builds of whole-app streaming chains over a
fresh seeded dataset per repetition; the traced run then adds their
batch twins among the
headline registry queries over the same events. ``dws_freshness``: an
open loop of ODS files arriving on a fixed schedule, each followed by
an ``availableNow`` DWS update run and an ADS read of the rewritten
table. Both time only calls into the program's public functions; the
program is not changed or instrumented.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

import duckdb
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.trace import (
    SPARK_COUNTERS,
    ProgressRecorder,
    Tracer,
    attribute,
    layer_self_times,
    read_event_log,
)

# Whole-app chain: app2s (dedup → window → dim join, two stateful
# operators). app1s and app5s are left out: their cold builds take
# ~45 s and ~30 s on 4 cores, more than a run's budget (README.md).
CHAINS = ("app2s_province_order_stream_chain",)
MIN_REPETITIONS = 2  # the first build in a JVM is also its JIT warm-up
# The headline batch queries that read only the ODS events: the batch
# operators (windowed sum, log split, first-visit state) over the same
# input the chain streams. Only the traced run times them, after its
# builds: they give per-layer figures only, and an untraced run is
# kept short because its builds alone fill the time budget.
BATCH_TWINS = (
    "a1_windowed_sum",
    "x1_log_split",
    "st4_first_per_day_uv",
    "st5_returning_user",
)
SETUPS = 3  # setup is repeated and its median reported
# one ODS file due every period (open loop); a call takes 2.5-3.5 s on
# 4 cores and up to ~4.5 s when the host is busy; a period below the
# call time queues files and inflates freshness well past the slowdown,
# a longer one leaves fewer freshness samples in a run
DWS_PERIOD_S = 4.5
DWS_ROWS_PER_FILE = 500  # ~3.6 h of event time at sf0.1 density
WORKLOADS = ("stream_chains", "dws_freshness")
E2E_METRICS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_ms_p50": "ms",
    "freshness_ms_p50": "ms",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest whole percentile with at
    least ten samples above it; with ten or fewer samples, the maximum
    reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    pct = (100 * (n - 10)) // n
    return xs[max(0, -(-pct * n // 100) - 1)], float(pct), n


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def progress_metrics(recs: list[dict], n_calls: int) -> dict[str, float]:
    """Per-layer numbers from streaming progress records: per-batch
    means for phase and state timings, per-call counts."""
    def dur(r, k):
        return r.get("durationMs", {}).get(k, 0)

    def ops(r):
        return r.get("stateOperators") or []

    data = [r for r in recs if r.get("numInputRows", 0) > 0]
    return {
        "sources.offset_ms": _mean(dur(r, "latestOffset") + dur(r, "getBatch") for r in recs),
        "sources.rows_per_batch": _mean(r["numInputRows"] for r in data),
        "streaming.add_batch_ms": _mean(dur(r, "addBatch") for r in recs),
        "streaming.query_planning_ms": _mean(dur(r, "queryPlanning") for r in recs),
        "streaming.wal_commit_ms": _mean(dur(r, "walCommit") for r in recs),
        "streaming.batches": len(recs) / max(1, n_calls),
        "streaming.state_ops_per_batch": _mean(len(ops(r)) for r in recs),
        "state.rows_total_max": max((sum(o.get("numRowsTotal", 0) for o in ops(r)) for r in recs), default=0),
        "state.memory_bytes_max": max((sum(o.get("memoryUsedBytes", 0) for o in ops(r)) for r in recs), default=0),
        "state.commit_ms": _mean(sum(o.get("commitTimeMs", 0) for o in ops(r)) for r in recs),
        "state.update_ms": _mean(sum(o.get("allUpdatesTimeMs", 0) for o in ops(r)) for r in recs),
        "state.removal_ms": _mean(sum(o.get("allRemovalsTimeMs", 0) for o in ops(r)) for r in recs),
        "state.rows_removed": sum(o.get("numRowsRemoved", 0) for r in recs for o in ops(r)) / max(1, n_calls),
        "state.rows_dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) for r in recs for o in ops(r)) / max(1, n_calls),
    }


def _parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


class Bench:
    """State of one benchmark invocation."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        self.seed, self.seconds = seed, seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.span = self.tracer.span
        self.spark = None
        self.recorder: ProgressRecorder | None = None
        self.attempted = self.failed = 0
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.layer: dict[str, float] = {}  # per-layer metrics
        self.e2e: dict[str, float] = {}
        self.n_batches = 0  # measured micro-batches
        self.input_bytes = 0  # ODS bytes the measured streaming calls read
        self.event_log = os.path.join(work, "eventlog")

    # -- shared ---------------------------------------------------------

    def record(self, what: str, error: str | None, seconds: float | None = None) -> None:
        """Count one attempted operation and log it on stderr; a failure
        or wrong answer is counted, and the run goes on."""
        self.attempted += 1
        took = "" if seconds is None else f" {seconds:.3f} s"
        if error is not None:
            self.failed += 1
        print(f"perfbench: {what}{took}: {error or 'ok'}", file=sys.stderr)

    def start_session(self) -> None:
        from real_time_data_warehouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.span("session.start", "session"):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
            self.session_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        self.recorder = ProgressRecorder()
        self.spark.streams.addListener(self.recorder)

    def warm_python_worker(self) -> None:
        """Start the Arrow/pandas Python worker once, so the first
        pandas-backed operator does not pay the interpreter start."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _ident(s):
            return s

        self.spark.range(32).select(_ident(F.col("id"))).count()

    def setup(self, body) -> None:
        """Run ``body(k)`` SETUPS times, each after a fresh session start;
        the run reports the median."""
        for k in range(SETUPS):
            with self.span(f"setup-{k}", "setup", k):
                t0 = time.perf_counter()
                self.start_session()
                body(k)
                self.setup_s.append(time.perf_counter() - t0)

    def finish(self) -> dict:
        pids = [os.getpid(), self.spark._jvm.ProcessHandle.current().pid()]
        self.layer["peak_rss_mb"] = _rss_mb(pids)
        self.e2e["setup_s"] = statistics.median(self.setup_s)
        self.spark.stop()
        self.layer["session.start_s"] = statistics.median(self.session_s)
        self.layer["error_rate"] = self.failed / max(1, self.attempted)
        if self.tracer.enabled:
            self._trace_metrics()
            # a layer this workload does not exercise reads 0
            metrics = {k: {"value": self.layer.get(k, 0.0), "unit": u}
                       for k, u in sorted(PER_LAYER_UNITS.items())}
        else:
            metrics = {k: {"value": self.e2e[k], "unit": u}
                       for k, u in E2E_METRICS.items()}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _trace_metrics(self) -> None:
        spans = self.tracer.spans
        for layer, s in layer_self_times(spans).items():
            if f"self_s.{layer}" in PER_LAYER_UNITS:
                self.layer[f"self_s.{layer}"] = s
        # Spark counters cover the measured phase: spans outside set-up
        by_id = {s.id: s for s in spans}

        def in_setup(s):
            while s is not None:
                if s.layer == "setup":
                    return True
                s = by_id.get(s.parent)
            return False

        measured = {s.id for s in spans if not in_setup(s)}
        per_span = attribute(read_event_log(self.event_log), spans)
        layer_of = {s.id: s.layer for s in spans}
        per_layer: dict[str, dict] = {}
        for sid, ctr in per_span.items():
            if sid not in measured:
                continue
            acc = per_layer.setdefault(layer_of[sid], {})
            for k, v in ctr.items():
                acc[k] = acc.get(k, 0) + v
        for layer in SPARK_LAYERS:
            for c in SPARK_COUNTERS:
                self.layer[f"spark.{layer}.{c}"] = per_layer.get(layer, {}).get(c, 0)
        written = per_layer.get("streaming", {}).get("output_bytes", 0)
        self.layer["sinks.bytes_written_per_batch"] = written / max(1, self.n_batches)
        self.layer["sinks.write_amplification"] = written / max(1, self.input_bytes)
        n_req = sum(1 for s in spans if s.name == "request" and s.id in measured)
        self.layer["serving.jobs_per_request"] = per_layer.get("serving", {}).get("jobs", 0) / max(1, n_req)
        self.layer["serving.tasks_per_request"] = per_layer.get("serving", {}).get("tasks", 0) / max(1, n_req)
        for k in E2E_METRICS:
            self.layer[f"traced.{k}"] = self.e2e[k]

    def streaming_layer(self, recs, n_calls, call_s, freshness_ms, rows_out) -> None:
        """Fill the streaming/state/source metrics and the end-to-end
        batch and freshness figures from a run's progress records."""
        self.layer.update(progress_metrics(recs, n_calls))
        rows_in = sum(r.get("numInputRows", 0) for r in recs)
        self.layer["streaming.rows_out_per_in"] = rows_out / max(1, rows_in)
        trig = [r.get("durationMs", {}).get("triggerExecution", 0) for r in recs]
        # batches that read input; no-data (watermark) batches are cheap,
        # and mixing them in puts the median on the jump between the two
        data_trig = [t for t, r in zip(trig, recs) if r.get("numInputRows", 0) > 0]
        self.layer["streaming.outside_trigger_s"] = (
            (sum(call_s) - sum(trig) / 1000.0) / max(1, n_calls))
        self.e2e["batch_ms_p50"] = statistics.median(data_trig)
        self.e2e["freshness_ms_p50"] = statistics.median(freshness_ms)
        for name, xs in (("batch_ms_tail", data_trig), ("freshness_ms_tail", freshness_ms)):
            v, pct, n = tail(xs)
            self.layer[name], self.layer[f"{name}.pct"], self.layer[f"{name}.n"] = v, pct, n
        self.n_batches = len(recs)

    # -- stream_chains --------------------------------------------------

    def run_stream_chains(self) -> dict:
        from real_time_data_warehouse_spark.registry import oracle_map, query_map

        qmap, omap = query_map(), oracle_map()
        ev = None

        def body(k):
            nonlocal ev
            with self.span("generate", "generate", k):
                ev = gen.events(self.seed)
                gen.write_dataset(os.path.join(self.work, f"setup{k}"), ev)
            with self.span("warmup", "warmup", k):
                self.warm_python_worker()

        self.setup(body)
        recs, call_s, fresh_ms = [], [], []
        events_in, table_files, input_bytes, rows_out = 0, 0, 0, 0
        t_end = time.perf_counter() + self.seconds
        rep = 0
        while rep < MIN_REPETITIONS or time.perf_counter() < t_end:
            rep_dir = os.path.join(self.work, f"rep{rep}")
            ds = os.path.join(rep_dir, "dataset")
            gen.write_dataset(ds, ev)
            # artifact dirs of this repetition's builds land here
            run_tmp, tempfile.tempdir = tempfile.tempdir, os.path.join(rep_dir, "tmp")
            os.makedirs(tempfile.tempdir)
            con = oracle.duck_for(ds)
            with self.span("repetition", "bench", rep):
                for name in CHAINS:
                    t0 = time.perf_counter()
                    err = None
                    try:
                        with self.span(name, "streaming", rep):
                            df = qmap[name](self.spark, ds)
                        with self.span("readback", "sinks", rep):
                            got = df.toPandas()
                        rows_out += len(got)
                        dt = time.perf_counter() - t0
                        with self.span("check", "check", rep):
                            err = oracle.check(got, con, omap[name])
                    except Exception:  # a failed build counts, the run goes on
                        err = traceback.format_exc()
                        dt = time.perf_counter() - t0
                    self.record(name, err, dt)
                    call_s.append(dt)
                    fresh_ms.append(dt * 1000.0)
                    recs += self.recorder.take()
                    events_in += ev.num_rows
                    input_bytes += os.path.getsize(os.path.join(ds, "events.parquet"))
            con.close()
            table_files += len([p for p in _parquet_files(tempfile.tempdir)
                                if f"{os.sep}out{os.sep}" in p])
            tempfile.tempdir = run_tmp
            shutil.rmtree(rep_dir, ignore_errors=True)
            rep += 1
        self.e2e["events_per_s"] = events_in / sum(call_s)
        self.streaming_layer(recs, len(call_s), call_s, fresh_ms, rows_out)
        # a cold build finds all its input files waiting: one data batch each
        self.layer["sources.backlog_files"] = (
            sum(1 for r in recs if r.get("numInputRows", 0) > 0) / len(call_s))
        self.layer["sinks.table_files"] = table_files / rep
        self.input_bytes = input_bytes
        if self.tracer.enabled:
            self.batch_twins(qmap, omap, ev)
        return self.finish()

    def batch_twins(self, qmap, omap, ev) -> None:
        """Run each batch twin once over a fresh dataset and check it."""
        ds = os.path.join(self.work, "twins", "dataset")
        gen.write_dataset(ds, ev)
        con = oracle.duck_for(ds)
        for name in BATCH_TWINS:
            err = None
            try:
                with self.span(name, "operators"):
                    t0 = time.perf_counter()
                    got = qmap[name](self.spark, ds).toPandas()
                    self.layer[f"operators.{name}_s"] = time.perf_counter() - t0
                with self.span("check", "check"):
                    err = oracle.check(got, con, omap[name])
            except Exception:
                err = traceback.format_exc()
            self.record(name, err)
        con.close()
        shutil.rmtree(os.path.dirname(ds), ignore_errors=True)

    # -- dws_freshness --------------------------------------------------

    def run_dws_freshness(self) -> dict:
        from real_time_data_warehouse_spark.serving import gmv_for_date
        from real_time_data_warehouse_spark.streaming.pipelines import (
            run_dws_agg_update_stream,
        )

        n_due = int(-(-self.seconds // DWS_PERIOD_S))  # files due in the run
        if (n_due + 1) * DWS_ROWS_PER_FILE > gen.N_EVENTS:
            raise ValueError(f"--seconds {self.seconds} needs more events than one dataset")
        ev, files, dirs = None, [], {}
        con = duckdb.connect()

        def stream_once(k_last: int) -> tuple[float, float, str | None]:
            """One availableNow run over everything published, then the
            ADS read for the newest file's date, checked against DuckDB.
            Returns the call's seconds, the monotonic time the read
            returned (before the check) and the error, if any."""
            t0 = time.perf_counter()
            with self.span("dws_update", "streaming"):
                q = run_dws_agg_update_stream(
                    self.spark, dirs["src"], dirs["serving"], dirs["ckpt"])
                q.awaitTermination()
            day = files[k_last]["ts"][-1].as_py() // 1_000_000_000
            date = time.strftime("%Y-%m-%d", time.gmtime(day))
            with self.span("request", "serving"):
                with self.span("plan", "serving"):
                    tp = time.perf_counter()
                    df = gmv_for_date(self.spark, dirs["serving"], date)
                    plan_s.append(time.perf_counter() - tp)
                with self.span("exec", "serving"):
                    te = time.perf_counter()
                    rows = df.collect()
                    exec_s.append(time.perf_counter() - te)
            call, visible = time.perf_counter() - t0, time.monotonic()
            want = con.execute(
                "SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) FROM ev "
                "WHERE event_id < ? AND strftime(ts, '%Y-%m-%d') = ?",
                [(k_last + 1) * DWS_ROWS_PER_FILE, date],
            ).fetchone()[0]
            got = rows[0]["gmv"] if rows else None
            if got is None or abs(got - want) > 1e-9 * max(1.0, abs(want)):
                return call, visible, f"/gmv {date}: got {got}, want {want}"
            return call, visible, None

        def publish(k: int, src_file: str) -> None:
            dst = os.path.join(dirs["src"], f"ods-{k:05d}.parquet")
            os.rename(src_file, dst)
            input_bytes.append(os.path.getsize(dst))

        plan_s, exec_s, input_bytes = [], [], []

        def body(k):
            base = os.path.join(self.work, f"setup{k}")
            for d in ("landing", "src", "ckpt"):
                dirs[d] = os.path.join(base, d)
                os.makedirs(dirs[d])
            dirs["serving"] = os.path.join(base, "serving")
            with self.span("generate", "generate", k):
                nonlocal ev, files
                ev = gen.events(self.seed)
                files = gen.ods_files(ev, DWS_ROWS_PER_FILE)
                con.register("ev", ev)
                first = os.path.join(dirs["landing"], "ods-00000.parquet")
                pq.write_table(files[0], first)
                publish(0, first)
            # the DWS update and the ADS read start no Python worker
            with self.span("warmup", "warmup", k):
                _, _, err = stream_once(0)
                if err:
                    raise RuntimeError(f"warm-up read is wrong: {err}")
            self.recorder.take()

        self.setup(body)
        plan_s.clear()
        exec_s.clear()
        input_bytes.clear()

        # open loop: the generator lands file k at t0 + k·period whatever
        # the system is doing; each streaming call publishes all landed files
        t0 = time.monotonic() + 0.1
        due = [t0 + i * DWS_PERIOD_S for i in range(n_due)]
        late_ms, landed = [], []
        cond = threading.Condition()

        def generator():
            for i in range(n_due):
                time.sleep(max(0.0, due[i] - time.monotonic()))
                path = os.path.join(dirs["landing"], f"ods-{i + 1:05d}.parquet")
                pq.write_table(files[i + 1], path + ".tmp")
                os.rename(path + ".tmp", path)
                with cond:
                    late_ms.append((time.monotonic() - due[i]) * 1000.0)
                    landed.append(path)
                    cond.notify()

        gen_thread = threading.Thread(target=generator, name="ods-generator")
        gen_thread.start()
        recs, call_s, fresh_ms, backlog = [], [], [], []
        done = 0
        try:
            while done < n_due:
                with cond:
                    if not cond.wait_for(lambda: len(landed) > done, timeout=60):
                        raise RuntimeError("the ODS generator stopped landing files")
                    batch = landed[done:]
                for i, path in enumerate(batch):
                    publish(done + i + 1, path)
                backlog.append(len(batch))
                t_call = time.perf_counter()
                with self.span("arrival", "bench", done):
                    try:
                        call, visible, err = stream_once(done + len(batch))
                    except Exception:  # a failed call counts, the run goes on
                        call, err = time.perf_counter() - t_call, traceback.format_exc()
                        visible = time.monotonic()
                self.record(f"arrival {done}", err, call)
                call_s.append(call)
                recs += self.recorder.take()
                fresh_ms += [(visible - due[done + i]) * 1000.0 for i in range(len(batch))]
                done += len(batch)
        finally:
            gen_thread.join()
        processed = (n_due + 1) * DWS_ROWS_PER_FILE
        final = self.spark.read.parquet(dirs["serving"]).drop("__ver").toPandas()
        self.record("final serving table", oracle.check(final, con, dws_oracle(processed)))
        con.close()

        self.e2e["events_per_s"] = n_due * DWS_ROWS_PER_FILE / sum(call_s)
        # update mode emits exactly the window rows each batch updated
        rows_out = sum((r.get("stateOperators") or [{}])[-1].get("numRowsUpdated", 0)
                       for r in recs)
        self.streaming_layer(recs, len(call_s), call_s, fresh_ms, rows_out)
        self.layer["sources.backlog_files"] = _mean(backlog)
        self.layer["generator.late_ms_max"] = max(late_ms)
        self.layer["sinks.table_files"] = len(_parquet_files(dirs["serving"]))
        self.layer["serving.plan_ms"] = _mean(plan_s) * 1000.0
        self.layer["serving.exec_ms"] = _mean(exec_s) * 1000.0
        self.input_bytes = sum(input_bytes)
        return self.finish()


def dws_oracle(n_events: int) -> str:
    """DuckDB twin of the DWS update stream's serving table over the
    first ``n_events`` events: 10 s tumbling windows per event type."""
    from real_time_data_warehouse_spark.functions.money import oracle_dec_sum
    from real_time_data_warehouse_spark.functions.time import oracle_tumble

    w = oracle_tumble("ts", 10)
    return f"""
        SELECT strftime({w}, '%Y-%m-%d %H:%M:%S') AS stt,
               strftime({w} + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
               strftime({w}, '%Y-%m-%d') AS cur_date,
               event_type AS sku_group,
               {oracle_dec_sum('value', 'order_amount')},
               CAST(COUNT(*) AS BIGINT) AS order_ct
        FROM ev WHERE event_id < {n_events}
        GROUP BY {w}, event_type
    """


SPARK_LAYERS = ("streaming", "sinks", "serving", "operators")
SELF_LAYERS = ("bench", "setup", "session", "generate", "warmup",
               "streaming", "sinks", "serving", "operators", "check")


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        # Python process plus JVM; varies >10% run to run with heap growth, so it
        # is reported here rather than gated as an end-to-end metric
        "peak_rss_mb": "MB",
        "sources.offset_ms": "ms",
        "sources.rows_per_batch": "rows",
        "sources.backlog_files": "files",
        "generator.late_ms_max": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.batches": "count",
        "streaming.state_ops_per_batch": "count",
        "streaming.rows_out_per_in": "ratio",
        "streaming.outside_trigger_s": "s",
        "state.rows_total_max": "rows",
        "state.memory_bytes_max": "bytes",
        "state.commit_ms": "ms",
        "state.update_ms": "ms",
        "state.removal_ms": "ms",
        "state.rows_removed": "rows",
        "state.rows_dropped_late": "rows",
        "sinks.bytes_written_per_batch": "bytes",
        "sinks.write_amplification": "ratio",
        "sinks.table_files": "files",
        "serving.plan_ms": "ms",
        "serving.exec_ms": "ms",
        "serving.jobs_per_request": "count",
        "serving.tasks_per_request": "count",
        "batch_ms_tail": "ms",
        "batch_ms_tail.pct": "%",
        "batch_ms_tail.n": "count",
        "freshness_ms_tail": "ms",
        "freshness_ms_tail.pct": "%",
        "freshness_ms_tail.n": "count",
        "error_rate": "ratio",
    }
    for q in BATCH_TWINS:
        units[f"operators.{q}_s"] = "s"
    units.update({f"self_s.{layer}": "s" for layer in SELF_LAYERS})
    for layer in SPARK_LAYERS:
        for c in SPARK_COUNTERS:
            units[f"spark.{layer}.{c}"] = (
                "s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count")
    units.update({f"traced.{k}": u for k, u in E2E_METRICS.items()})
    return units


PER_LAYER_UNITS = _per_layer_units()
