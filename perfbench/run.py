"""Run one benchmark workload once and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sql_reports --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts a fresh Spark session on
``local[<cores>]``, generates its inputs from ``--seed`` under
``.perfbench/`` in the checkout, warms and checks every distinct op, then
runs a single-client closed loop (the next op starts when the previous
one returns) in whole rounds (one pass over the workload's fixed op mix)
until ``--seconds`` of op time have passed. Outputs are checked outside
the timed section; an op that raises or fails its check is counted in
``failed``. ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones and writes the spans to ``.perfbench/traces/``.

The last line of stdout is the result; everything else goes to stderr.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback
import types
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vena_etl_tool_spark"

WORKLOADS = ("etl_load", "sql_reports")
# Longest wait for each step of stopping the session, the JVM and the workers.
STOP_TIMEOUT_S = 20
# Scale of the generated tables, in TESTDATA.md scale-factor units.
SCALE = 0.01
# SPARK_DRIVER_MEMORY, the program's own deployment setting (default 8g).
# With an 8 GB heap limit the JVM's peak RSS followed the host's load more
# than the program's work; the measured spreads are in perfbench/README.md.
DRIVER_MEMORY = "2g"

# Every distinct op costs a cold first run in each run's warm pass; the
# lists are kept short enough that a run stays under about a minute on a
# 4-core host.
SQL_OPS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_forecast", "q9_product_profit", "q13_order_count_distribution",
    "q18_large_volume_customers", "q21_sole_returner",
    "agg_rollup", "window_frames", "join_asof_last_click", "join_interval_overlap",
    "setop_except_all", "subquery_lateral_topn", "topk_global", "sessionize_events",
    "events_path_mining", "events_funnel_ttc",
)
# Short corpus ops, so that the session-artifact cache (text_bpe_fertility
# builds its vocabulary through _shared.persisted_artifact) and the Python
# workers (embedding_outlier_knn runs a pandas UDF) are on a measured path.
CORPUS_OPS = ("text_bpe_fertility", "embedding_outlier_knn")
REPORT_OPS = SQL_OPS + CORPUS_OPS
ETL_QUERIES = ("stream_cdc_apply", "merge_cow_parquet")
CATALOG_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "success_share": "ratio",
    "rss_peak_mb": "MB",
    "rows_per_s": "rows/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.all_specs_s": "s",
    "operators.warm_pass_s": "s",
    **{f"catalog.load_s.{t}": "s" for t in CATALOG_TABLES},
    **{f"catalog.scan_s.{t}": "s" for t in CATALOG_TABLES},
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.driver_self_s": "s",
    "operators.slot_busy_share": "ratio",
    "operators.driver_py_cpu_s": "s",
    "operators.jvm_cpu_s": "s",
    "operators.py_worker_cpu_s": "s",
    "operators.single_partition_exchanges": "count",
    "operators.artifacts": "count",
    "operators.storage_mb": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "rows",
    "streaming.state_mb": "MB",
    "pipeline.ingest.validate_s": "s",
    "pipeline.ingest.ingest_s": "s",
    "pipeline.ingest.write_s": "s",
    "pipeline.ingest.rows_good": "rows",
    "pipeline.ingest.rows_quarantined": "rows",
    "pipeline.ingest.stale_loads": "count",
    "pipeline.ingest.storage_mb": "MB",
    "pipeline.jobs.submit_wait_s": "s",
    "pipeline.jobs.status_s": "s",
    "pipeline.http_sink.upload_s": "s",
    "pipeline.http_sink.attempts": "count",
    "pipeline.http_sink.retries": "count",
    "pipeline.http_sink.useful_share": "ratio",
    "pipeline.audit.append_s": "s",
    "pipeline.audit.records": "count",
    "pipeline.upload.self_s": "s",
    "traced.ops_per_s": "1/s",
    "traced.latency_p50_s": "s",
}


_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _tree_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file in the checkout except the benchmark's
    own run area, build dir and VCS metadata."""
    skip = {".git", ".perfbench", ".bench_build"}
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == root:
            dirnames[:] = [d for d in dirnames if d not in skip]
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _hermetic_env(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run dir, and pin the settings the program reads from the environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    for key in list(os.environ):
        if key.startswith("VENA_") or key in ("SPARK_GRAFT_SF_DIR", "PYSPARK_DRIVER_PYTHON"):
            del os.environ[key]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        # for every JVM, the launcher's too; -XX:-UsePerfData: no file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = None
    os.chdir(run_dir)


def _remove_layouts(tag: str, before: dict) -> None:
    """Delete the run's layout directory, and the directories above it that
    the run created."""
    layouts = os.path.join(ROOT, "spark-warehouse", "layouts")
    shutil.rmtree(os.path.join(layouts, tag), ignore_errors=True)
    for d in (layouts, os.path.dirname(layouts)):
        rel = os.path.relpath(d, ROOT) + os.sep
        if not any(k.startswith(rel) for k in before):
            with contextlib.suppress(OSError):
                os.rmdir(d)


class _Prefetched:
    """Stands in for the DuckDB connection ``diff_query`` takes: answers
    each oracle query with the frame, or the error, fetched before the
    timed pass."""

    def __init__(self, frames: dict) -> None:
        self.frames = frames

    def execute(self, sql: str):
        got = self.frames[sql]
        if isinstance(got, Exception):
            raise got
        return types.SimpleNamespace(fetchdf=lambda: got)


class _Endpoint:
    """In-process HTTP upload endpoint: 2xx for well-formed multipart
    uploads with basic auth, 503 when told to fail the next attempt."""

    def __init__(self) -> None:
        self.attempts = 0
        self.delivered = 0
        self.fail_next = False

    def __call__(self, url: str, body: bytes, headers: dict) -> int:
        self.attempts += 1
        if self.fail_next:
            self.fail_next = False
            return 503
        well_formed = (
            url.endswith("/startWithFile")
            and headers.get("authorization", "").startswith("Basic ")
            and headers.get("content-type", "").startswith("multipart/form-data")
            and b'name="file"' in body[:512]
        )
        if not well_formed:
            return 400
        self.delivered += 1
        return 200


class OpRecord:
    def __init__(self, index: int, kind: str, name: str, op=None, round_start: bool = True) -> None:
        self.index, self.kind, self.name, self.op = index, kind, name, op
        self.round_start = round_start
        self.df = None
        self.latency = 0.0
        self.ok = False
        self.reason = ""
        self.rows = 0
        self.epoch = (0.0, 0.0)
        self.build_s = self.exec_s = 0.0
        self.build_end_epoch = 0.0
        self.cpu = None
        self.jobs = None
        self.spe = 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, run_dir: str) -> None:
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.run_dir = run_dir
        # The layout operators keep their files under
        # <checkout>/spark-warehouse/layouts/<data dir name>/: a per-run name
        # keeps runs apart, and the run removes that directory at the end.
        self.data_dir = os.path.join(run_dir, os.path.basename(run_dir))
        self.records: list[OpRecord] = []
        self.failures: list[str] = []
        self.bad_queries: dict[str, str] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.jvm_pid = 0
        self.worker_pids: set[int] = set()

    # ---------------------------------------------------------------- setup
    def setup(self) -> None:
        import gen

        tables = gen.make_tables(self.seed, SCALE)
        gen.write_tables(tables, self.data_dir)
        self.table_rows = {name: t.num_rows for name, t in tables.items()}
        del tables
        _log("inputs generated")

        t0 = time.perf_counter()
        from vena_etl_tool_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        from vena_etl_tool_spark.registry import all_specs

        self.specs = all_specs()
        t2 = time.perf_counter()
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["registry.all_specs_s"] = t2 - t1

    def check_queries(self, names, workers: int = 1) -> float:
        """Diff every distinct query against its DuckDB oracle, on
        ``workers`` threads. This pass is also the warm pass; returns its
        wall seconds. The oracle frames are fetched before the pass starts,
        so its time holds only the program's work and the comparison."""
        from vena_etl_tool_spark.testing import diff_query, duckdb_connection

        con = duckdb_connection(self.data_dir)
        frames = {}
        for name in names:
            sql = self.specs[name].oracle
            if sql is not None:
                try:
                    frames[sql] = con.execute(sql).fetchdf()
                except Exception as e:  # noqa: BLE001 — diff_query reports it as the query's failure
                    frames[sql] = e
        con.close()
        oracle = _Prefetched(frames)

        def check(name: str) -> None:
            t0 = time.perf_counter()
            try:
                res = diff_query(self.spark, oracle, self.specs[name], self.data_dir)
                if not res.ok:
                    self.bad_queries[name] = res.detail
            except Exception as e:  # noqa: BLE001 — a broken query is a counted failure
                self.bad_queries[name] = f"{type(e).__name__}: {e}"[:500]
            _log(f"checked {name} in {time.perf_counter() - t0:.2f}s"
                 + (" (FAILED)" if name in self.bad_queries else ""))

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for f in [pool.submit(check, n) for n in names]:
                f.result()
        return time.perf_counter() - t0

    # ------------------------------------------------------------ query ops
    def run_query(self, rec: OpRecord) -> None:
        spec = self.specs[rec.name]
        t0 = time.perf_counter()
        df = spec.fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        rec.build_end_epoch = time.time()
        df.write.mode("overwrite").format("noop").save()
        rec.build_s, rec.exec_s = t1 - t0, time.perf_counter() - t1
        rec.df = df

    def check_query(self, rec: OpRecord) -> None:
        if rec.name in self.bad_queries:
            raise AssertionError(f"oracle diff: {self.bad_queries[rec.name]}")

    # ------------------------------------------------------------ the loop
    def loop(self, wl) -> float:
        import probes

        loop_s = 0.0
        for rec in wl.ops():
            # stop only between rounds, so every run measures whole copies of the mix
            if loop_s >= self.seconds and rec.round_start:
                break
            wl.prepare(rec)
            cpu0 = probes.cpu_sample(self.jvm_pid) if self.traced else None
            token = self.tracer.begin_op(rec.index, f"op.{rec.kind}") if self.traced else None
            e0, t0 = time.time(), time.perf_counter()
            try:
                wl.execute(rec)
                rec.ok = True
            except Exception as e:  # noqa: BLE001 — an op that raises is a counted failure
                rec.reason = f"raised {type(e).__name__}: {e}"[:500]
            t1, e1 = time.perf_counter(), time.time()
            if token is not None:
                self.tracer.close(token)
            rec.latency, rec.epoch = t1 - t0, (e0, e1)
            loop_s += rec.latency
            if self.traced:
                cpu1 = probes.cpu_sample(self.jvm_pid)
                rec.cpu = (cpu1.driver_py - cpu0.driver_py, cpu1.jvm - cpu0.jvm,
                           cpu1.py_workers - cpu0.py_workers)
                rec.jobs = self.cursor.stats(self.cursor.take())
                if rec.df is not None:
                    rec.spe = probes.single_partition_exchanges(rec.df)
                self.worker_pids.update(probes.python_worker_pids(self.jvm_pid))
            if rec.ok:
                try:
                    wl.check(rec)
                except AssertionError as e:
                    rec.ok, rec.reason = False, str(e)
            if self.traced:
                self.cursor.take()  # the check's own jobs belong to no op
            if not rec.ok:
                self.failures.append(f"op {rec.index} {rec.kind} {rec.name}: {rec.reason}")
            rec.df = None
            self.records.append(rec)
        return loop_s

    # ------------------------------------------------------------- metrics
    def n_failed(self, wl) -> int:
        return sum(1 for r in self.records if not r.ok) + wl.extra_failures

    def end_to_end(self, loop_s: float, setup_s: float, wl) -> dict[str, float]:
        import probes
        import stats

        ok = [r for r in self.records if r.ok]
        lat = [r.latency for r in ok]
        rss = probes.vm_hwm_mb(os.getpid()), probes.vm_hwm_mb(self.jvm_pid)
        _log(f"peak RSS: driver {rss[0]:.0f} MB, JVM {rss[1]:.0f} MB")
        if not stats.supports(len(lat), 50):
            print(f"perfbench: WARNING {len(lat)} successful ops leave fewer than "
                  f"{stats.MIN_BEYOND} samples beyond the median", file=sys.stderr)
        return {
            "setup_s": setup_s,
            "ops_per_s": len(ok) / loop_s,
            "latency_p50_s": stats.percentile(lat, 50),
            "success_share": 1.0 - self.n_failed(wl) / len(self.records),
            "rss_peak_mb": sum(rss),
            "rows_per_s": wl.rows_per_s(ok),
        }

    def per_layer(self, e2e: dict[str, float], wl) -> dict[str, float]:
        import probes
        import stats
        from vena_etl_tool_spark.catalog import load_table
        from vena_etl_tool_spark.operators import _shared

        m = dict(self.layer)
        for t in CATALOG_TABLES:
            t0 = time.perf_counter()
            df = load_table(self.spark, self.data_dir, t)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            m[f"catalog.load_s.{t}"] = t1 - t0
            m[f"catalog.scan_s.{t}"] = time.perf_counter() - t1

        q = [r for r in self.records if r.kind == "query" and r.jobs is not None]
        mq = lambda f: stats.mean([f(r) for r in q])  # noqa: E731
        m["operators.build_s"] = mq(lambda r: r.build_s)
        m["operators.exec_s"] = mq(lambda r: r.exec_s)
        m["operators.build_jobs"] = mq(
            lambda r: sum(1 for s, _ in r.jobs.intervals if s <= r.build_end_epoch))
        for key in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
                    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            m[f"operators.{key}"] = mq(lambda r, k=key: getattr(r.jobs, k))
        m["operators.driver_self_s"] = mq(
            lambda r: r.latency - stats.clipped_union(r.jobs.intervals, *r.epoch))
        busy = sum(r.latency for r in q) * _cores()
        m["operators.slot_busy_share"] = sum(r.jobs.task_run_s for r in q) / busy if busy else 0.0
        for i, key in enumerate(("driver_py_cpu_s", "jvm_cpu_s", "py_worker_cpu_s")):
            m[f"operators.{key}"] = mq(lambda r, i=i: r.cpu[i])
        m["operators.single_partition_exchanges"] = mq(lambda r: r.spe)
        m["operators.artifacts"] = len(getattr(_shared, "_ARTIFACT_CACHE", {}))
        m["operators.storage_mb"] = probes.storage_mb(self.spark)

        n_stream = sum(1 for r in self.records if r.kind == "query" and r.name.startswith("stream_"))
        ls = self.listener
        per_stream = lambda v: v / n_stream if n_stream else 0.0  # noqa: E731
        m["streaming.batches"] = per_stream(ls.batches)
        m["streaming.input_rows"] = per_stream(ls.input_rows)
        for key, src in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                         ("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit")):
            m[f"streaming.{key}"] = per_stream(ls.duration_s.get(src, 0.0))
        m["streaming.state_rows"] = ls.state_rows
        m["streaming.state_mb"] = ls.state_bytes / (1024.0 * 1024.0)

        m.update(wl.pipeline_layer(self))
        m["traced.ops_per_s"] = e2e["ops_per_s"]
        m["traced.latency_p50_s"] = e2e["latency_p50_s"]
        return m

    # ----------------------------------------------------------------- run
    def run(self) -> tuple[dict, dict]:
        import probes

        self.setup()
        _log(f"session up in {self.layer['session.get_spark_s']:.2f}s")
        wl = (EtlLoad if self.workload == "etl_load" else SqlReports)(self)
        warm_s = wl.warm()
        _log(f"warm pass done: {warm_s:.2f}s of Spark time")
        self.layer["operators.warm_pass_s"] = warm_s
        setup_s = self.layer["session.get_spark_s"] + self.layer["registry.all_specs_s"] + warm_s
        if self.traced:
            self.tracer = probes.Tracer()
            self.listener = probes.StreamStats()
            self.spark.streams.addListener(self.listener)
            wl.instrument(self.tracer)
            self.cursor = probes.JobCursor(self.spark)
        loop_s = self.loop(wl)
        _log(f"{len(self.records)} ops in {loop_s:.2f}s of op time")
        wl.finish()
        e2e = self.end_to_end(loop_s, setup_s, wl)
        result = {"correct": True, "attempted": len(self.records), "failed": self.n_failed(wl)}
        if self.traced:
            self.cursor.drain()
            metrics, units = self.per_layer(e2e, wl), PER_LAYER
            self.write_trace(metrics)
        else:
            metrics, units = e2e, END_TO_END
        result["metrics"] = {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}
        return result, {"ops": len(self.records), "loop_s": loop_s}

    def write_trace(self, metrics: dict) -> None:
        import stats

        kids = self.tracer.children()
        spans = [
            {**s.__dict__, "self_s": stats.self_time(s.start, s.end, [(c.start, c.end) for c in kids[s.span_id]])}
            for s in self.tracer.spans
        ]
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload}-s{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "failures": self.failures, "spans": spans,
                       "ops": [{"index": r.index, "kind": r.kind, "name": r.name, "ok": r.ok,
                                "latency_s": r.latency, "reason": r.reason} for r in self.records]},
                      f, indent=1)
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)

    def stop(self) -> None:
        """Stop the session, the JVM and the Python workers, and wait for each.

        The session and gateway shutdown run on a helper thread with a time
        limit: in one run of about fifty, PySpark's shutdown blocked for good
        on a gateway connection whose JVM end had already stopped. Closing
        the JVM's stdin ends it either way (and is followed by a kill if it
        does not), which also ends that connection."""
        if self.spark is None:
            return
        import signal
        import subprocess
        import threading

        import probes
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.worker_pids.update(probes.python_worker_pids(self.jvm_pid))

        def shutdown() -> None:
            self.spark.stop()
            gateway.shutdown()

        helper = threading.Thread(target=shutdown, daemon=True)
        helper.start()
        helper.join(timeout=STOP_TIMEOUT_S)
        if helper.is_alive():
            _log(f"session shutdown still blocked after {STOP_TIMEOUT_S}s; ending the JVM")
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        deadline = time.time() + STOP_TIMEOUT_S
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in self.worker_pids):
            time.sleep(0.1)
        for p in self.worker_pids:
            if "pyspark" in probes._cmdline(p):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)


class SqlReports:
    """Read side: eight TPC-H queries, ten analytic reports and two short
    corpus ops, each ``spec.fn`` plus a noop-sink materialize, in seeded
    shuffled passes."""

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.extra_failures = 0
        self.scanned: dict[str, int] = {}  # op name -> rows of the tables it reads

    def warm(self) -> float:
        import numpy as np

        # The reports are read-only and set no session conf, so their warm
        # pass can run one query per core.
        order = np.random.default_rng([self.b.seed, 4]).permutation(len(REPORT_OPS))
        return self.b.check_queries([REPORT_OPS[i] for i in order], workers=_cores())

    def ops(self):
        import numpy as np

        rng = np.random.default_rng([self.b.seed, 5])
        i = 0
        while True:
            for j in rng.permutation(len(REPORT_OPS)):
                yield OpRecord(i, "query", REPORT_OPS[j], round_start=i % len(REPORT_OPS) == 0)
                i += 1

    def prepare(self, rec: OpRecord) -> None:
        pass

    def execute(self, rec: OpRecord) -> None:
        self.b.run_query(rec)

    def check(self, rec: OpRecord) -> None:
        self.b.check_query(rec)
        if rec.name not in self.scanned:
            files = rec.df.inputFiles()
            self.scanned[rec.name] = sum(
                n for t, n in self.b.table_rows.items() if any(f"/{t}.parquet" in f for f in files))
        rec.rows = self.scanned[rec.name]

    def instrument(self, tracer) -> None:
        pass

    def finish(self) -> None:
        pass

    def rows_per_s(self, ok: list[OpRecord]) -> float:
        """Rows of the input tables each op reads (by its plan's file
        scans; a cached artifact is not a file scan) per second of op time."""
        return sum(r.rows for r in ok) / sum(r.latency for r in ok)

    def pipeline_layer(self, bench: Bench) -> dict[str, float]:
        return {k: 0.0 for k in PER_LAYER if k.startswith("pipeline.")}


class EtlLoad:
    """Write side, the paper's user flow: CSV uploads through the upload
    command (validate, typed ingest with quarantine, parquet write as a
    tracked job, multipart HTTP upload, audit record) then a job-status
    poll, interleaved with the registry's load-side write queries."""

    SPEC = "lineitem-csv"

    def __init__(self, bench: Bench) -> None:
        from vena_etl_tool_spark.pipeline import cli
        from vena_etl_tool_spark.pipeline.audit import AuditLog
        from vena_etl_tool_spark.pipeline.envconfig import EnvConfig
        from vena_etl_tool_spark.pipeline.jobs import JobRegistry
        from vena_etl_tool_spark.pipeline.spec import default_registry

        class RecordingJobRegistry(JobRegistry):
            last = None

            def submit_batch(self, fn, description=""):
                self.last = super().submit_batch(fn, description)
                return self.last

        self.b = bench
        self.cli = cli
        self.audit = AuditLog(os.path.join(bench.run_dir, "logs"))
        self.jobs = RecordingJobRegistry(bench.spark, self.audit)
        self.pipeline_specs = default_registry()
        self.target = os.path.join(bench.run_dir, self.pipeline_specs.get(self.SPEC).target)
        self.env = EnvConfig(api_url="http://etl.invalid", username="perfbench", password="perfbench")
        self.endpoint = _Endpoint()
        self.inputs = os.path.join(bench.run_dir, "inputs")
        self.files = {}  # upload index -> the gen.UploadFile its path holds now
        self.expect = {}  # op index -> (gen.UploadFile it uploads, content it replaced or None)
        self.uploads_ok = 0
        self.extra_failures = 0
        self.stale = 0

    # Warm pass: every write query twice (the first run checked against its
    # oracle), one retried small upload and one large upload, on paths the
    # loop never uses. Without the rerun, each query's one timed run in a
    # round took 20-70% longer than its later runs did, by an amount that
    # followed the host's load.
    def warm(self) -> float:
        import gen

        spark_s = self.b.check_queries(ETL_QUERIES)
        for name in ETL_QUERIES:
            t0 = time.perf_counter()
            # a query that raises is already a counted failure of every timed run
            with contextlib.suppress(Exception):
                self.b.run_query(OpRecord(-1, "query", name))
            spark_s += time.perf_counter() - t0
        warm = [
            gen.EtlOp(-1, "upload", rows=gen.SMALL_ROWS, file_seed=self.b.seed * 7 + 1, fail_first=True),
            gen.EtlOp(-2, "upload", rows=gen.LARGE_ROWS, file_seed=self.b.seed * 7 + 2),
        ]
        for op in warm:
            rec = OpRecord(op.index, "upload", f"warm{-op.index}", op)
            self.prepare(rec)
            t0 = time.perf_counter()
            try:
                self.execute(rec)
                spark_s += time.perf_counter() - t0
                self.check(rec)
            except Exception as e:  # noqa: BLE001 — counted like a failed op
                self.extra_failures += 1
                self.b.failures.append(f"warm upload {rec.name}: {e}")
        return spark_s

    def ops(self):
        import gen

        n = gen.round_len(ETL_QUERIES)
        for op in gen.etl_plan(self.b.seed, ETL_QUERIES, n_rounds=10):
            name = op.query if op.kind == "query" else f"upload-{op.target if op.kind == 'reupload' else op.index}"
            yield OpRecord(op.index, op.kind, name, op, round_start=op.index % n == 0)

    def prepare(self, rec: OpRecord) -> None:
        import gen

        op = rec.op
        self.endpoint.fail_next = op.fail_first
        if op.kind == "upload":
            name = f"warm{-op.index}.csv" if op.index < 0 else f"upload-{op.index}.csv"
            path = os.path.join(self.inputs, name)
            self.files[op.index] = gen.write_upload_csv(path, op.rows, op.file_seed)
            self.expect[op.index] = (self.files[op.index], None)
        elif op.kind == "reupload":
            before = self.files[op.target]
            staged = gen.write_upload_csv(
                os.path.join(self.inputs, "staging", f"fix-{op.index}.csv"), op.rows, op.file_seed,
                corrupt=False)
            os.replace(staged.path, before.path)
            fixed = gen.UploadFile(before.path, staged.rows, staged.corrupt)
            self.files[op.target] = fixed
            self.expect[op.index] = (fixed, before)

    def execute(self, rec: OpRecord) -> None:
        op = rec.op
        if op.kind == "query":
            self.b.run_query(rec)
            return
        path = self.expect[op.index][0].path
        self.jobs.last = None
        with contextlib.redirect_stdout(io.StringIO()):
            rc = self.cli.cmd_upload(
                [path, self.SPEC], self.b.spark, self.audit, self.jobs, self.pipeline_specs,
                env_cfg=self.env, transport=self.endpoint)
        if rc != 0:
            raise RuntimeError(f"upload command exited {rc}")
        self.uploads_ok += 1
        if self.jobs.last is None:
            raise RuntimeError("upload submitted no job")
        state = self.jobs.status(self.jobs.last.job_id)["state"]
        if state != "SUCCEEDED":
            raise RuntimeError(f"job {self.jobs.last.job_id} ended {state}")

    def check(self, rec: OpRecord) -> None:
        op = rec.op
        if op.kind == "query":
            self.b.check_query(rec)
            return
        want, before = self.expect[op.index]
        last = self.audit.read_channel("upload-history")[-1]
        got = (last["rowsLoaded"], last["rowsQuarantined"])
        readback = self.b.spark.read.parquet(self.target).count()
        rec.rows = want.good
        if got != (want.good, want.corrupt) or readback != want.good:
            stale = before is not None and got == (before.good, before.corrupt)
            self.stale += stale
            raise AssertionError(
                f"{os.path.basename(want.path)}: loaded {got[0]} rows, quarantined {got[1]}, "
                f"read back {readback}; the file holds {want.good} good and {want.corrupt} "
                f"corrupt rows" + (" (the previous content of this path)" if stale else ""))

    def finish(self) -> None:
        records = len(self.audit.read_channel("upload-history"))
        if records != self.uploads_ok:
            self.extra_failures += 1
            self.b.failures.append(
                f"audit: {records} upload records for {self.uploads_ok} successful uploads")

    def rows_per_s(self, ok: list[OpRecord]) -> float:
        """Good rows loaded per second of upload-op time."""
        up = [r for r in ok if r.kind != "query"]
        return sum(r.rows for r in up) / sum(r.latency for r in up)

    def instrument(self, tracer) -> None:
        self.tracer = tracer
        self.ingested: dict[int, tuple[int, int]] = {}
        self.attempts0 = (self.endpoint.attempts, self.endpoint.delivered)

        def on_ingest(result) -> None:
            self.ingested[tracer.op] = (result.n_good, result.n_quarantined)

        cli = self.cli
        cli.validate_csv_file = tracer.wrap(cli.validate_csv_file, "pipeline.ingest.validate")
        cli.ingest_csv = tracer.wrap(cli.ingest_csv, "pipeline.ingest.ingest", on_ingest)
        cli.write_table = tracer.wrap(cli.write_table, "pipeline.ingest.write")
        cli.upload_file_multipart = tracer.wrap(cli.upload_file_multipart, "pipeline.http_sink.upload")
        for name in ("submit_batch", "wait", "status"):
            setattr(self.jobs, name, tracer.wrap(getattr(self.jobs, name), f"pipeline.jobs.{name}"))
        for name in ("log_upload", "log_job_operation", "log_error"):
            setattr(self.audit, name, tracer.wrap(getattr(self.audit, name), "pipeline.audit.append"))

    def pipeline_layer(self, bench: Bench) -> dict[str, float]:
        import probes
        import stats

        ups = [r for r in bench.records if r.kind != "query"]
        n = len(ups)
        per_op: dict[int, dict[str, float]] = {r.index: {} for r in ups}
        counts: dict[int, int] = {r.index: 0 for r in ups}
        kids = self.tracer.children()
        self_s = []
        for s in self.tracer.spans:
            if s.op in per_op:
                d = per_op[s.op]
                d[s.name] = d.get(s.name, 0.0) + (s.end - s.start)
                counts[s.op] += s.name == "pipeline.audit.append"
                if s.parent is None:
                    self_s.append(stats.self_time(s.start, s.end, [(c.start, c.end) for c in kids[s.span_id]]))
        span_mean = lambda *names: stats.mean(  # noqa: E731
            [sum(d.get(k, 0.0) for k in names) for d in per_op.values()])
        attempts = self.endpoint.attempts - self.attempts0[0]
        delivered = self.endpoint.delivered - self.attempts0[1]
        ingested = [self.ingested[r.index] for r in ups if r.index in self.ingested]
        return {
            "pipeline.ingest.validate_s": span_mean("pipeline.ingest.validate"),
            "pipeline.ingest.ingest_s": span_mean("pipeline.ingest.ingest"),
            "pipeline.ingest.write_s": span_mean("pipeline.ingest.write"),
            "pipeline.ingest.rows_good": stats.mean([g for g, _ in ingested]),
            "pipeline.ingest.rows_quarantined": stats.mean([q for _, q in ingested]),
            "pipeline.ingest.stale_loads": self.stale,
            "pipeline.ingest.storage_mb": probes.storage_mb(bench.spark, "FileScan csv"),
            "pipeline.jobs.submit_wait_s": span_mean("pipeline.jobs.submit_batch", "pipeline.jobs.wait"),
            "pipeline.jobs.status_s": span_mean("pipeline.jobs.status"),
            "pipeline.http_sink.upload_s": span_mean("pipeline.http_sink.upload"),
            "pipeline.http_sink.attempts": attempts / n if n else 0.0,
            "pipeline.http_sink.retries": (attempts - delivered) / n if n else 0.0,
            "pipeline.http_sink.useful_share": delivered / attempts if attempts else 0.0,
            "pipeline.audit.append_s": span_mean("pipeline.audit.append"),
            "pipeline.audit.records": stats.mean(list(counts.values())),
            "pipeline.upload.self_s": stats.mean(self_s),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the checkout must stay as the run found it
    sys.dont_write_bytecode = True
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    # The result must be the last stdout line: route everything the program,
    # the JVM and the Python workers print to stderr.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    before = _tree_snapshot(ROOT)
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    # numpy seeds must be non-negative
    bench = Bench(args.workload, args.seed % (1 << 63), args.seconds, bool(args.trace), run_dir)
    try:
        _hermetic_env(run_dir)
        result, info = bench.run()
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(run_dir))  # .perfbench/, unless traces are kept there
            _remove_layouts(os.path.basename(run_dir), before)
    _log("session stopped")
    for f in bench.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    after = _tree_snapshot(ROOT)
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
    if changed:
        result["correct"] = False
        print(f"perfbench: the run changed files in the checkout: {changed[:20]}", file=sys.stderr)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # The JVM and the workers have been stopped and waited for; a thread
    # PySpark left blocked on the gateway must not keep this process alive.
    os._exit(rc)
