"""One benchmark process: set up Spark, run one workload, check every
result, and write the metrics as JSON.

Started by ``run.py`` with one JSON argument (the run's configuration);
it times its own set-up from the moment ``run.py`` spawned it.

Every timed operation is one call into the package's public entry
points, followed by a full Arrow fetch of a new QueryExecution, inside
its own ``cache_scope``:

- query workloads call ``contract.QUERIES[name](spark, sf_dir)``;
- ``taxi_build`` calls ``build_taxi_pipeline``, then
  ``PipelineRunner.run(select=node)`` per node in DAG order, then
  ``PipelineRunner.test`` with the reference DQ suite.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.tracing import OpProbe, QueryListener, Spans, covered, stream_listener  # noqa: E402

# Fixed query sets; the seed only changes their order in each pass.
WORKLOADS = {
    "queries": (
        # Warehouse operators: short JVM-only plans.
        "s1_scan_filter_project w1_dedup_distinct j1_broadcast_dim_join a5_metric_avg_month "
        "q3_shipping_priority q6_forecast_revenue o1_topn_orders s5_sql_entrypoint "
        # Curation operators: a fused single-task path with eager training in
        # the builder, Arrow/pandas Python workers, an availableNow stream.
        "ext_kmeans_train ext_text_quality_score ext_streaming_dedup"
    ).split(),
    "taxi_build": None,
}
# Each operation's warm time is its fastest of at least this many warm
# passes. Over the first warm passes the JIT is still compiling (pass time
# falls by a third), and on a shared host a burst of contention slows
# whole passes; the fastest pass is past both, so its spread across runs
# is smaller than that of a median of the early passes.
MIN_WARM_PASSES = 5
TAXI_TABLES = ("dim_zones", "fact_trips", "dm_monthly_zone_revenue",
               "dm_monthly_zone_statistics")
TAXI_NODES = ("stg_green_tripdata", "stg_yellow_tripdata") + TAXI_TABLES
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "getBatch")


class HarnessError(RuntimeError):
    """The harness measured something other than what it claims."""


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def shuffle_partitions(input_bytes: int, cores: int) -> int:
    """``bench.py``'s size rule: ~16 MiB of input per shuffle
    partition, at least 8, at most the core count."""
    return max(8, min(cores, input_bytes // (16 * 1024 * 1024)))


def warm_up(spark, parquet_path: str) -> None:
    """The first step of ``bench.py``'s warm-up: one scan action, so the
    first timed operation does not pay for the first job of the
    session. Operator first-use costs (codegen, Python workers) stay in
    the cold pass, where a fresh-process user pays them."""
    spark.read.parquet(parquet_path).count()


class Bench:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.traced = bool(cfg["trace"])
        self.rng = random.Random(cfg["seed"])
        self.spans = Spans()
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        # Per operation: the fingerprint of its first successful result,
        # and how many results matched it.
        self.reference: dict[str, dict] = {}
        self.first_tables: dict[str, tuple] = {}  # query -> (Arrow table, schema)
        self.last_df: dict = {}
        self.model_rec: dict = {}  # the taxi node operation now running

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        cfg = self.cfg
        with self.spans.span("get_spark", "setup") as s:
            from taxi_rides_ny_duckdb_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(shuffle_partitions(cfg["input_bytes"], cores)))
        self.get_spark_s = s.end - s.start
        self.spark = spark
        master = spark.sparkContext.master
        width = cfg["nproc"] if master == "local[*]" else int(master[6:-1] or 1)
        if not master.startswith("local[") or width > cfg["nproc"] or cores > cfg["nproc"]:
            raise HarnessError(f"Spark master {master} ({cores} cores) is wider than "
                               f"nproc={cfg['nproc']}")
        with self.spans.span("load_all", "setup") as s:
            from taxi_rides_ny_duckdb_spark import contract, fixtures
            from taxi_rides_ny_duckdb_spark.operators import scale

            # Keep every file the package writes inside the run directory.
            fixtures.DEFAULT_FIXTURE_DIR = os.path.join(cfg["work_dir"], "taxi_fixtures")
            sinks = os.path.join(cfg["work_dir"], "sinks")
            scale.sink_scratch_dir = lambda sf_dir, name: os.path.join(
                sinks, os.path.basename(sf_dir.rstrip("/")), name)
            contract.load_all()
        self.load_all_s = s.end - s.start
        self.contract = contract
        with self.spans.span("warmup", "setup") as s:
            warm_up(spark, cfg["warm_parquet"])
        self.warmup_s = s.end - s.start
        self.setup_s = time.time() - cfg["spawn_time"]

        self.probe = OpProbe(spark)
        if self.traced:
            self.qlistener = QueryListener(spark)
            self.slistener = stream_listener()

    # ---- one timed operation -------------------------------------------
    def op(self, name: str, traced: bool, body) -> dict:
        """Run ``body(rec)`` as one timed operation. ``body`` times its
        build and fetch phases into ``rec`` and returns the fetched Arrow
        table, if any."""
        from taxi_rides_ny_duckdb_spark.cache import cache_scope

        start = self.probe.begin()
        rec = {"name": name, "ok": True, "table": None}
        with self.spans.span(name, "op") as span, cache_scope() as frames:
            t0 = time.perf_counter()
            try:
                rec["table"] = body(rec)
            except HarnessError:
                raise
            except Exception as e:  # noqa: BLE001 — one failed operation is counted, not fatal
                rec["ok"] = False
                self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            rec["t"] = time.perf_counter() - t0
            rec["frames"] = len(frames)
        rec.update(self.probe.end(start, traced, name))
        if traced:
            self._trace_children(span, rec)
        return rec

    @contextmanager
    def phase(self, rec: dict, kind: str):
        """Time one phase of an operation into ``rec[kind + '_s']``."""
        with self.spans.span(kind, kind):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                rec[f"{kind}_s"] = rec.get(f"{kind}_s", 0.0) + time.perf_counter() - t0

    def _trace_children(self, span, rec) -> None:
        """Jobs and streaming triggers become child spans; the listeners'
        per-operation counters go into ``rec``."""
        mine = self.spans.spans[span.sid + 1:]
        for a, b, jid in rec["intervals"]:
            parent = span
            for child in mine:
                if child.parent == span.sid and child.start <= a <= child.end:
                    parent = child
            self.spans.child(parent, f"job {jid}", "job", a, b)
        builds = {s.sid for s in self.spans.spans[span.sid + 1:] if s.kind == "build"}
        rec["build_jobs"] = sum(1 for s in self.spans.spans[span.sid + 1:]
                                if s.kind == "job" and s.parent in builds)
        rec["driver_gap_s"] = (span.end - span.start) - covered(
            [(a, b) for a, b, _ in rec["intervals"]], span.start, span.end)
        rec.update(self.qlistener.drain())
        rec["stream"], self.slistener.progress = self.slistener.progress, []
        build = next((s for s in mine if s.parent == span.sid and s.kind == "build"), span)
        for p in rec["stream"]:
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            self.spans.child(build, f"trigger {p['name']}#{p['batch']}", "trigger", t,
                             t + p["duration_ms"].get("triggerExecution", 0) / 1000.0,
                             **p["duration_ms"])

    # ---- query workloads ---------------------------------------------
    def query_body(self, name: str):
        import pyarrow as pa
        from pyspark.sql import DataFrame

        spark, sf_dir = self.spark, self.cfg["star_dir"]

        def body(rec):
            with self.phase(rec, "build"):
                df = self.contract.QUERIES[name](spark, sf_dir)
            rec["plan_reused"] = int(self.last_df.get(name) is df)
            self.last_df[name] = df
            # A new QueryExecution over the builder's logical plan: never
            # re-run a Dataset that has already executed.
            fresh = DataFrame(spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, df._jdf.queryExecution().logical()), spark)
            with self.phase(rec, "fetch"):
                table = fresh.toArrow()
            if not isinstance(table, pa.Table) or table.column_names != fresh.columns:
                raise HarnessError(f"{name}: fetch is not a full-column Arrow fetch")
            rec["schema"] = fresh.schema
            return table

        return body

    # ---- taxi_build ---------------------------------------------------
    def taxi_ops(self, wh: str):
        """The operations of one build, and the dict that will hold its
        runner."""
        from taxi_rides_ny_duckdb_spark.plans.dq import (
            bind_relationship_tests, reference_test_suite)
        from taxi_rides_ny_duckdb_spark.plans.project import build_taxi_pipeline

        paths = self.cfg["trips"]
        state = {}

        def assemble(rec):
            with self.phase(rec, "build"):
                runner = build_taxi_pipeline(
                    self.spark, paths["green_tripdata"], paths["yellow_tripdata"],
                    paths["taxi_zone_lookup"], wh)
            # Each model's plan construction is a build phase of its node.
            for m in runner.models.values():
                m.build = self._timed_model(m.build)
            state["runner"] = runner

        def node(name):
            def body(rec):
                self.model_rec = rec
                with self.phase(rec, "fetch"):
                    state["runner"].run(select=name)
                rec["fetch_s"] -= rec.get("build_s", 0.0)  # the build phase ran inside
                path = os.path.join(wh, name)
                rec["bytes_written"] = dir_bytes(path) if os.path.isdir(path) else 0
            return body

        def test(rec):
            runner = state["runner"]
            tests = bind_relationship_tests(reference_test_suite(),
                                            runner.sources["taxi_zone_lookup"])
            with self.phase(rec, "fetch"):
                rec["dq_tests"] = len(runner.test(tests, raise_on_error=False))

        ops = [("assemble", assemble)] + [(f"node:{n}", node(n)) for n in TAXI_NODES]
        return ops + [("test", test)], state

    def _timed_model(self, fn):
        def timed(*deps):
            with self.phase(self.model_rec, "build"):
                return fn(*deps)
        return timed

    # ---- passes --------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool) -> list[dict]:
        """One pass; the listeners are registered only for traced passes."""
        if not traced:
            return self._run_pass(pass_no, False)
        self.qlistener.register()
        self.spark.streams.addListener(self.slistener)
        try:
            return self._run_pass(pass_no, True)
        finally:
            self.spark.streams.removeListener(self.slistener)
            self.qlistener.unregister()

    def _run_pass(self, pass_no: int, traced: bool) -> list[dict]:
        if self.workload == "taxi_build":
            wh = os.path.join(self.cfg["work_dir"], f"warehouse-{pass_no}")
            ops, state = self.taxi_ops(wh)
            recs = [self.op(n, traced, b) for n, b in ops]
            self.check_build(pass_no, state.get("runner"), wh, recs)
            if wh != getattr(self, "first_wh", None):
                shutil.rmtree(wh, ignore_errors=True)
            return recs
        names = list(WORKLOADS[self.workload])
        self.rng.shuffle(names)
        recs = [self.op(n, traced, self.query_body(n)) for n in names]
        for rec in recs:
            self.check_query(rec)
        return recs

    def measure(self) -> None:
        seconds, traced = self.cfg["seconds"], self.traced
        self.cold = self.run_pass(0, traced)
        self.warm: list[tuple[bool, list[dict]]] = []
        min_passes = 4 if traced else MIN_WARM_PASSES
        t0 = time.perf_counter()
        while len(self.warm) < min_passes or time.perf_counter() - t0 < seconds:
            # Traced runs interleave traced and untraced warm passes as
            # T U U T T U U T ..., so the tracing overhead is measured in
            # the same process and a steady drift cancels out.
            mode = traced and len(self.warm) % 4 in (0, 3)
            self.warm.append((mode, self.run_pass(len(self.warm) + 1, mode)))
        self.time_oracles()

    # ---- DuckDB ------------------------------------------------------------
    def oracle_sql(self) -> dict[str, str]:
        """Operation name -> its DuckDB oracle, on this run's inputs."""
        oracles = self.contract.ORACLES
        if self.workload != "taxi_build":
            return {n: oracles[n] for n in WORKLOADS[self.workload]}
        from taxi_rides_ny_duckdb_spark import fixtures

        out = {}
        for node in TAXI_NODES:
            sql = oracles[f"taxi_{node}"]
            for key, path in fixtures.ensure_taxi_fixtures().items():
                sql = sql.replace(path, self.cfg["trips"][key])
            out[f"node:{node}"] = sql
        return out

    def prepare_oracles(self) -> None:
        """Run every oracle once, untimed: its result is what the check
        compares with, and the run warms DuckDB's caches."""
        self.sql = self.oracle_sql()
        self.expected = {}
        for name, sql in self.sql.items():
            try:
                self.expected[name] = self.oracle.expected(sql)
            except Exception as e:  # noqa: BLE001 — checked as a mismatch later
                self.expected[name] = e
        # taxi_build compares the four table nodes; views take no time.
        self.timed_oracles = [n for n in self.sql if not n.startswith("node:stg_")]

    def time_oracles(self) -> None:
        """Time each oracle once the warm passes are done, in the same
        process and on the same inputs."""
        self.duck_s = {name: self.oracle.time_query(self.sql[name])
                       for name in self.timed_oracles
                       if not isinstance(self.expected[name], Exception)}

    # ---- correctness -----------------------------------------------------
    def _fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(msg)

    def check_query(self, rec: dict) -> None:
        """Keep the first result of each query for the oracle check and
        compare every later one with it."""
        self.attempted += 1
        name, table = rec["name"], rec.pop("table")
        if not rec["ok"]:
            self.failed += 1
            return
        rec["rows"], rec["bytes"] = table.num_rows, table.nbytes
        fp = self.oracle.fingerprint(table)
        ref = self.reference.get(name)
        if ref is None:
            self.reference[name] = {"fp": fp, "matched": 1}
            self.first_tables[name] = (table, rec["schema"])
        elif fp == ref["fp"]:
            ref["matched"] += 1
        else:
            self._fail(f"{name}: a later result differs from the first")

    def check_build(self, pass_no: int, runner, wh: str, recs: list[dict]) -> None:
        """Keep the first complete build for the oracle check and compare
        the tables of every later build with it."""
        import pyarrow.parquet as pq

        self.attempted += len(recs)
        self.failed += sum(not r["ok"] for r in recs)
        if not all(r["ok"] for r in recs):
            return
        fps = {n: self.oracle.fingerprint(pq.read_table(os.path.join(wh, n)))
               for n in TAXI_TABLES}
        ref = self.reference.get("build")
        if ref is None:
            self.reference["build"] = {"fp": fps, "matched": 1}
            self.first_runner, self.first_wh = runner, wh
        elif fps == ref["fp"]:
            ref["matched"] += 1
        else:
            bad = [n for n in fps if fps[n] != ref["fp"][n]]
            self._fail(f"build {pass_no}: tables {bad} differ from the first build")

    def oracle_checks(self) -> None:
        """Compare each operation's first result with its DuckDB oracle
        (untimed). A mismatch fails every result that matched the first."""
        from perfbench.oracle import mismatch

        for name, spark_side, ref in self.first_results():
            expected = self.expected[name]
            try:
                if isinstance(expected, Exception):
                    raise expected
                why = mismatch(spark_side(), expected)
            except Exception as e:  # noqa: BLE001 — a broken oracle is a failed check
                why = f"{type(e).__name__}: {str(e)[:300]}"
            if why:
                self._fail(f"{name}: oracle mismatch: {why}", ref["matched"])

    def first_results(self):
        """(name, first Spark result as pandas, reference) per operation."""
        from perfbench.oracle import spark_pandas

        tz = self.spark.conf.get("spark.sql.session.timeZone")
        if self.workload != "taxi_build":
            for name, (table, schema) in self.first_tables.items():
                yield (name, lambda t=table, s=schema: spark_pandas(t, s, tz),
                       self.reference[name])
            return
        if "build" not in self.reference:
            return
        from taxi_rides_ny_duckdb_spark.functions.parity import present_doubles

        for node in TAXI_NODES:
            df = present_doubles(self.first_runner.built[node])
            yield (f"node:{node}", lambda df=df: spark_pandas(df.toArrow(), df.schema, tz),
                   self.reference["build"])

    # ---- metrics -------------------------------------------------------------
    def metrics(self) -> dict:
        untraced = [p for mode, p in self.warm if not mode]
        traced = [p for mode, p in self.warm if mode]
        per_op: dict[str, list[float]] = {}
        for p in untraced:
            for r in p:
                if r["ok"]:
                    per_op.setdefault(r["name"], []).append(r["t"])
        self.warm_best = {n: min(v) for n, v in per_op.items()}
        duck = self.duck_s
        ratios = [self.warm_best[n] / d for n, d in duck.items()
                  if n in self.warm_best and d > 0]
        if not ratios:
            raise HarnessError("no operation has both a Spark and a DuckDB timing")
        out_key = "bytes_written" if self.workload == "taxi_build" else "bytes"
        # The percentiles are taken over the operations' warm times, so
        # one slow pass of one operation cannot move them past its
        # neighbours.
        op_best = list(self.warm_best.values())
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "cold_pass_s": (sum(r["t"] for r in self.cold), "s"),
            # A warm pass: each operation at its warm time.
            "warm_pass_s": (sum(op_best), "s"),
            "warm_p50_s": (statistics.median(op_best), "s"),
            "warm_p90_s": (statistics.quantiles(op_best, n=10, method="inclusive")[-1], "s"),
            "vs_duckdb_geomean": (statistics.geometric_mean(ratios), "ratio"),
            "output_bytes_per_input_byte": (
                sum(r.get(out_key, 0) for r in self.cold) / self.cfg["input_bytes"], "ratio"),
        }
        return self.layer_metrics(untraced, traced, duck) if self.traced else e2e

    def layer_metrics(self, untraced, traced, duck) -> dict:
        self.exact_counts: list[str] = []

        def med(fn, passes=traced, name=None):
            values = [fn(p) for p in passes]
            if name and len(set(values)) == 1:
                self.exact_counts.append(name)
            return statistics.median(values)

        def total(key):
            return lambda p: sum(r.get(key, 0) for r in p)

        def pct(fn, scale=1.0):
            return lambda p: 100.0 * fn(p) * scale / sum(r["t"] for r in p)

        def stream_s(key):
            return lambda p: sum(t["duration_ms"].get(key, 0) for r in p
                                 for t in r.get("stream", [])) / 1000.0

        def node(name):
            return lambda p: sum(r["t"] for r in p if r["name"] == name)

        def count(name, key, unit="count"):
            return name, (med(total(key), name=name), unit)

        m = dict([
            ("session.get_spark_s", (self.get_spark_s, "s")),
            ("contract.load_all_s", (self.load_all_s, "s")),
            ("setup.warmup_s", (self.warmup_s, "s")),
            ("build.cold_s", (total("build_s")(self.cold), "s")),
            ("build.cold_jobs", (total("build_jobs")(self.cold), "count")),
            ("build.warm_s", (med(total("build_s")), "s")),
            count("build.warm_jobs", "build_jobs"),
            count("build.plan_reused", "plan_reused"),
            ("fetch.warm_s", (med(total("fetch_s")), "s")),
            count("catalyst.executions", "executions"),
            ("catalyst.analysis_ms", (med(total("analysis_ms")), "ms")),
            ("catalyst.optimization_ms", (med(total("optimization_ms")), "ms")),
            ("catalyst.planning_ms", (med(total("planning_ms")), "ms")),
            count("spark.jobs", "jobs"),
            count("spark.stages", "stages"),
            count("spark.tasks", "tasks"),
            count("spark.skipped_stages", "skipped_stages"),
            ("spark.driver_gap_s", (med(total("driver_gap_s")), "s")),
            ("spark.executor_run_s", (med(total("executor_run_s")), "s")),
            ("spark.executor_cpu_s", (med(total("executor_cpu_s")), "s")),
            count("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
            count("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
            count("spark.spill_bytes", "spill_bytes", "bytes"),
            count("pyworker.bytes", "pyworker_bytes", "bytes"),
            count("cache.scoped_frames", "frames"),
            count("fetch.result_rows", "rows"),
            count("fetch.result_bytes", "bytes", "bytes"),
            ("duckdb.query_s", (sum(duck.values()), "s")),
            ("plans.assemble_pct", (med(pct(node("assemble"))), "%")),
            ("dq.test_pct", (med(pct(node("test"))), "%")),
            count("dq.tests_run", "dq_tests"),
            ("streaming.batches", (med(lambda p: sum(len(r.get("stream", [])) for r in p),
                                       name="streaming.batches"), "count")),
            ("streaming.state_rows", (med(lambda p: sum(t["state_rows"] for r in p
                                                        for t in r.get("stream", [])),
                                          name="streaming.state_rows"), "count")),
            ("streaming.trigger_pct", (med(pct(stream_s("triggerExecution"))), "%")),
        ])
        for n in TAXI_NODES:
            m[f"plans.node_pct.{n}"] = (med(pct(node(f"node:{n}"))), "%")
        for n in TAXI_TABLES:
            m[f"plans.bytes_written.{n}"] = (
                sum(r.get("bytes_written", 0) for r in self.cold if r["name"] == f"node:{n}"),
                "bytes")
        for k in STREAM_PHASES:
            m[f"streaming.{k}_pct"] = (med(pct(stream_s(k))), "%")
        pass_s = total("t")
        base = med(pass_s, untraced)
        m["trace.overhead_s"] = (med(pass_s) - base, "s")
        m["trace.overhead_pct"] = (100.0 * (med(pass_s) - base) / base, "%")
        return m


def main() -> int:
    cfg = json.loads(sys.argv[1])
    bench = Bench(cfg)
    bench.setup()
    from perfbench.oracle import Oracle

    bench.oracle = Oracle(cfg["nproc"], cfg.get("star_dir"))
    bench.prepare_oracles()
    t0 = time.perf_counter()
    bench.measure()
    t1 = time.perf_counter()
    bench.oracle_checks()
    t2 = time.perf_counter()
    metrics = bench.metrics()
    import duckdb
    import pyspark

    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        "info": {
            "nproc": cfg["nproc"],
            "spark": bench.spark.version,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "warm_passes": len(bench.warm),
            "seconds": {"get_spark": bench.get_spark_s, "load_all": bench.load_all_s,
                        "warmup": bench.warmup_s, "measure": t1 - t0, "check": t2 - t1},
            "cold_s": {r["name"]: r["t"] for r in bench.cold},
            "warm_s": bench.warm_best,
            "duckdb_s": bench.duck_s,
            "exact_counts": getattr(bench, "exact_counts", []),
            "errors": bench.errors[:20],
        },
    }
    if bench.traced:
        os.makedirs(cfg["trace_dir"], exist_ok=True)
        bench.spans.dump(os.path.join(
            cfg["trace_dir"], f"{cfg['workload']}-seed{cfg['seed']}.json"))
    with open(cfg["out"], "w") as f:
        json.dump(result, f)
    bench.oracle.close()
    bench.spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        sys.exit(3)
