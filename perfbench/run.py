"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``perfbench/.work/``, sets the engine up three times (the
median is ``setup_s``), measures closed-loop passes for ``--seconds``,
then checks every result against the registry's DuckDB oracle or a
reference replay. ``--trace 1`` measures with spans installed instead and
prints the per-layer metrics. A human-readable report goes to standard
output first; the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_ROUNDS = 3
#: A run that has not finished by then is killed (the contract allows 180 s).
WATCHDOG_S = 170


def _env(work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # staged-parquet cache reuse across processes would hide build cost
    os.environ.pop("SPARK_GRAFT_STAGE_DIR", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=1000000 --conf spark.ui.retainedStages=1000000 "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "pyspark-shell"
    )


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


class Runner:
    def __init__(self, args, work: str) -> None:
        from perfbench import gen, workloads

        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload]
        self.ops = self.wl.ops()
        self.orders = self.wl.orders(args.seed, self.ops)
        wl = self.wl
        self.timed_dir = os.path.join(work, "timed")
        self.warm_dir = os.path.join(work, "warm")
        tables = gen.make_tables(args.seed, wl.scale, wl.docs, wl.vectors, wl.dup_share)
        self.manifest = gen.write_tables(
            self.timed_dir, tables, args.seed, scale=wl.scale, dup_share=wl.dup_share
        )
        gen.write_tables(
            self.warm_dir,
            gen.make_tables(args.seed + 1_000_003, 0.0001, 100, 100, wl.dup_share),
            args.seed + 1_000_003,
        )
        self.oracles: dict = {}
        self.oracle_locks: dict = {}
        self.landing = {}
        if wl.scd_batch_rows:
            land = os.path.join(work, "landing")
            self.landing = gen.write_landing(land, tables, args.seed, wl.scd_batch_rows)
            self.landing.update(
                dir=land,
                rows=self.manifest["rows"],
                schemas={n: workloads.ddl_schema(tables, n) for n in tables},
            )
        del tables

    # -- set-up ------------------------------------------------------------
    def setup(self) -> tuple[list[float], list[float]]:
        """Session start, input registration and warm-up, SETUP_ROUNDS
        times; returns each round's wall and CPU seconds. The first round
        launches the JVM and SparkContext through ``get_spark``; the later
        ones open a new SparkSession on it, so each round registers the
        inputs and warms up from scratch."""
        from data_warehouse_implementation_spark.plans import materialize
        from data_warehouse_implementation_spark.session import get_spark, load_tables

        from perfbench.sparkstats import cpu_seconds

        wall, cpu = [], []
        self.spark, self.pids = None, [os.getpid()]
        for _ in range(SETUP_ROUNDS):
            t0, c0 = time.perf_counter(), cpu_seconds(self.pids)
            if self.spark is None:
                spark = get_spark(app_name="perfbench")
                spark.sparkContext.setLogLevel("ERROR")
                self.pids.append(int(spark._jvm.ProcessHandle.current().pid()))
            else:
                spark = self.spark.newSession()
                spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
            _warm_up(spark, load_tables(spark, self.warm_dir))
            load_tables(spark, self.timed_dir)
            materialize.clear()
            wall.append(time.perf_counter() - t0)
            cpu.append(cpu_seconds(self.pids) - c0)
            self.spark = spark
        return wall, cpu

    # -- one measured phase ------------------------------------------------
    def measure(self, tracer) -> dict:
        from data_warehouse_implementation_spark.plans import materialize
        from data_warehouse_implementation_spark.sources.catalog import WarehouseCatalog

        from perfbench import sparkstats
        from perfbench.workloads import Ctx

        spark, wl, seconds = self.spark, self.wl, self.args.seconds
        phase = "trace" if tracer.enabled else "plain"
        records: list[dict] = []
        lock = threading.Lock()
        jobs_before = sparkstats.job_ids(spark) if tracer.enabled else set()
        builds_before = (len(materialize.BUILD_LOG), sum(materialize.BUILD_SECONDS))
        catalogs: list[str] = []

        def new_ctx(tag: str) -> Ctx:
            ctx = Ctx(
                spark, tracer, self.timed_dir, landing=self.landing,
                _oracle=self.oracles, _locks=self.oracle_locks,
            )
            if wl.scd_batch_rows:
                root = os.path.join(self.work, f"catalog-{phase}-{tag}")
                catalogs.append(root)
                ctx.catalog = WarehouseCatalog(spark, root)
            return ctx

        def run_op(ctx: Ctx, i: int, client: int, seq: int) -> None:
            op = self.ops[i]
            op_id = f"{op.name}#{client}.{seq}"
            if tracer.enabled:
                spark.sparkContext.setJobGroup(op_id, op.name)
            t0 = time.perf_counter()
            try:
                with tracer.op(op_id), tracer.span("op", op.name):
                    result, error = op.run(ctx), None
            except Exception:  # an operation failing is a measured outcome
                result, error = None, traceback.format_exc()
            dt = time.perf_counter() - t0
            with lock:
                records.append(
                    {"op": i, "id": op_id, "client": client, "start": t0, "dt": dt,
                     "result": result, "error": error, "ctx": ctx}
                )

        def client(ctx: Ctx, c: int, n: int) -> None:
            # the JVM keeps the active session per thread; registry plans
            # that call SparkSession.getActiveSession() need it
            spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
            order = self.orders[c]
            for seq, i in enumerate(order):
                run_op(ctx, i, c, n * len(order) + seq)

        # one pass = every client runs its list once; passes repeat until
        # --seconds have gone by
        passes: list[float] = []
        storage_after: list[tuple[int, float]] = []
        cpu_before = sparkstats.cpu_seconds(self.pids)
        t_start = time.perf_counter()
        while True:
            materialize.clear()
            ctx = new_ctx(str(len(passes)))
            p0 = time.perf_counter()
            threads = [
                threading.Thread(target=client, args=(ctx, c, len(passes)))
                for c in range(len(self.orders))
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            passes.append(time.perf_counter() - p0)
            storage_after.append(sparkstats.storage(spark))
            if time.perf_counter() - t_start >= seconds:
                break
        wall = time.perf_counter() - t_start
        cpu = sparkstats.cpu_seconds(self.pids) - cpu_before
        sparkstats.wait_idle(spark)
        if tracer.enabled:
            spark.sparkContext.setJobGroup("", "")
        out = {
            "records": records,
            "wall": wall,
            "passes": passes,
            "storage_after": storage_after,
            "catalogs": catalogs,
            "cpu_s": cpu,
            "builds": len(materialize.BUILD_LOG) - builds_before[0],
            "build_s": sum(materialize.BUILD_SECONDS) - builds_before[1],
        }
        if tracer.enabled:
            out["exec"] = sparkstats.exec_totals(spark, jobs_before)
        return out

    # -- checks --------------------------------------------------------------
    def check(self, phase: dict) -> tuple[int, float, list[str]]:
        """Check every operation's result; two at a time, so a slow DuckDB
        oracle overlaps the Spark read-backs of other checks."""
        from concurrent.futures import ThreadPoolExecutor

        def one(rec: dict) -> None:
            c0 = time.perf_counter()
            if rec["error"] is None:
                try:
                    self.ops[rec["op"]].check(rec["ctx"], rec["result"])
                except Exception as e:  # a wrong result is counted, not fatal
                    rec["error"] = f"check: {type(e).__name__}: {str(e)[:2000]}"
            rec["check_s"] = time.perf_counter() - c0

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(one, phase["records"]))
        failures = [
            f"{rec['id']}: {rec['error'].strip().splitlines()[-1][:300]}"
            for rec in phase["records"]
            if rec["error"] is not None
        ]
        return len(failures), time.perf_counter() - t0, failures


def _warm_up(spark, warm_tables: dict) -> None:
    """Neutral warm-up on the small input: a shuffle join with an Arrow
    collect, a window, and a pandas map that starts the Python workers.
    It runs no registry query, so no session cache is pre-built."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li, o, docs = warm_tables["lineitem"], warm_tables["orders"], warm_tables["documents"]
    li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").agg(
        F.sum("l_extendedprice").alias("rev")
    ).toPandas()
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    o.select("o_custkey", F.row_number().over(w).alias("rn")).filter("rn = 1").toPandas()
    docs.select("doc_id").mapInPandas(lambda it: it, "doc_id long").toPandas()


def _files_under(roots: list[str]) -> int:
    n = 0
    for root in roots:
        for _, _, files in os.walk(root):
            n += sum(1 for f in files if f.startswith("part-"))
    return n


def end_to_end(r: Runner, setup_cpu: list[float], plain: dict, rss_mb: float, failed: int) -> tuple[dict, dict]:
    from perfbench.workloads import parquet_rows

    recs = plain["records"]
    lat = [x["dt"] for x in recs]
    pass_s = statistics.median(plain["passes"])
    m = {
        "setup_s": (statistics.median(setup_cpu), "s"),
        "pass_cpu_s": (plain["cpu_s"] / len(plain["passes"]), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    # wall-clock figures: printed, not gated (see README, "Steadiness")
    extra = {
        "pass_s": (pass_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p75_s": (_pct(lat, 0.75), "s"),
        "queries_per_s": (len(recs) / plain["wall"], "1/s"),
        "failed_frac": (failed / len(recs), "ratio"),
    }
    if r.wl.scd_batch_rows:
        rows = [
            sum(parquet_rows(os.path.join(c, t)) for t in os.listdir(c) if not t.startswith("_"))
            for c in plain["catalogs"]
        ]
        extra["rows_written_per_s"] = (statistics.median(
            n / p for n, p in zip(rows, plain["passes"])
        ), "rows/s")
        extra["docs_per_s"] = (r.manifest["rows"]["documents"] / pass_s, "docs/s")
    return m, extra


def per_layer(r: Runner, tracer, traced: dict, check_s: float, failed: int) -> dict:
    """Per-layer metrics of a traced phase, per pass of the operation
    list. ``trace.pass_s`` is the traced pass time; subtracting the
    untraced ``pass_s`` of a ``--trace 0`` run of the same seed gives
    the tracing overhead across runs, while ``trace.overhead_s`` is
    the overhead inside this run: spans recorded times the measured
    cost of one traced call."""
    from perfbench.trace import LAYERS, OPERATOR_MODULES

    recs = traced["records"]
    n_pass = len(traced["passes"])
    ex = traced["exec"]["*"]
    self_s, calls = tracer.self_times()
    spans = tracer.spans

    def span_sum(pred) -> tuple[float, int]:
        sel = [s for s in spans if pred(s)]
        return sum(s["end"] - s["start"] for s in sel), len(sel)

    load_s, load_n = span_sum(lambda s: s["name"] == "session.load_tables")
    mat_calls = sum(1 for s in spans if s["layer"] == "materialize")
    exchanges = sum(rec["exchanges"] for rec in recs)
    read_names = ("read_csv", "read_jsonl", "read_orc", "read_xml", "WarehouseCatalog.table")
    read_s = sum(
        max(0.0, s["end"] - s["start"]) for s in spans
        if s["layer"] == "sources" and s["name"].endswith(read_names)
    )
    queries = {id(q): q for rec in recs for q in rec["ctx"].stream_queries}
    stream_batches, stream_s = 0, 0.0
    for q in queries.values():
        for p in q.recentProgress:
            if p.numInputRows:
                stream_batches += 1
                stream_s += p.durationMs.get("triggerExecution", 0) / 1e3
    traced_pass = statistics.median(traced["passes"])
    per = lambda v: v / n_pass  # noqa: E731
    m = {
        "exec.jobs": (per(ex["jobs"]), "count"),
        "exec.stages": (per(ex["stages"]), "count"),
        "exec.tasks": (per(ex["tasks"]), "count"),
        "exec.sched_wait_s": (per(ex["sched_wait_s"]), "s"),
        "exec.shuffle_exchanges": (per(exchanges), "count"),
        "exec.shuffle_write_bytes": (per(ex["shuffle_write_bytes"]), "bytes"),
        "exec.shuffle_read_bytes": (per(ex["shuffle_read_bytes"]), "bytes"),
        "exec.executor_run_s": (per(ex["executor_run_s"]), "s"),
        "exec.executor_cpu_s": (per(ex["executor_cpu_s"]), "s"),
        "exec.spill_bytes": (per(ex["spill_bytes"]), "bytes"),
        "exec.gc_s": (per(ex["gc_s"]), "s"),
        "exec.cached_rdds": (traced["storage_after"][-1][0], "count"),
        "exec.storage_mem_mb": (traced["storage_after"][-1][1], "MB"),
        "plans.calls": (per(calls.get("plans", 0)), "count"),
        "session.load_tables_s": (per(load_s), "s"),
        "session.load_tables_calls": (per(load_n), "count"),
        "materialize.builds": (per(traced["builds"]), "count"),
        "materialize.hits": (per(mat_calls - traced["builds"]), "count"),
        "materialize.hit_ratio": (
            (mat_calls - traced["builds"]) / mat_calls if mat_calls else 0.0, "ratio"
        ),
        "materialize.build_s": (per(traced["build_s"]), "s"),
        "sources.read_s": (per(read_s), "s"),
        "sources.write_s": (per(self_s.get("sources", 0.0) - read_s), "s"),
        "sources.rows_written": (per(ex["output_records"]), "rows"),
        "sources.bytes_written": (per(ex["output_bytes"]), "bytes"),
        "sources.files_written": (per(_files_under(traced["catalogs"])), "count"),
        "streaming.batches": (per(stream_batches), "count"),
        "streaming.batch_s": (per(stream_s), "s"),
        "check.s": (check_s, "s"),
        "check.failed_ops": (failed, "count"),
        "trace.pass_s": (traced_pass, "s"),
        "trace.overhead_s": (per(len(spans) * tracer.span_cost()), "s"),
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (per(self_s.get(layer, 0.0)), "s")
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = (per(calls.get(f"operators.{mod}", 0)), "count")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _env(work)
    sys.path.insert(0, os.path.dirname(HERE))
    runner = None
    watchdog = threading.Timer(WATCHDOG_S, _abort, args=(lambda: runner,))
    watchdog.daemon = True
    watchdog.start()
    try:
        from perfbench import sparkstats, trace

        runner = Runner(args, work)
        setup_wall, setup_cpu = runner.setup()
        tracer = trace.Tracer() if args.trace else trace.NullTracer()
        if args.trace:
            tracer.install()
        try:
            with sparkstats.RssSampler(runner.pids) as rss:
                phase = runner.measure(tracer)
        finally:
            if args.trace:
                tracer.uninstall()
        if args.trace:
            _count_exchanges(phase)
        failed, check_s, failures = runner.check(phase)
        if args.trace:
            metrics = per_layer(runner, tracer, phase, check_s, failed)
            tracer.dump(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json"))
            _dump_op_counts(runner, phase, args)
            sections = {"per_layer": metrics}
        else:
            metrics, extra = end_to_end(runner, setup_cpu, phase, rss.peak_mb, failed)
            sections = {"end_to_end": metrics, "reported, not gated": extra}
        _print_report(args, runner, setup_wall, setup_cpu, phase, sections, failures)
        result = {
            "correct": failed == 0,
            "attempted": len(phase["records"]),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        watchdog.cancel()
        if runner is not None and getattr(runner, "spark", None) is not None:
            _shutdown(runner.spark)
        shutil.rmtree(work, ignore_errors=True)


def _shutdown(spark) -> None:
    """Stop Spark (which stops its Python worker daemon), then close the
    JVM's stdin, which ends the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _count_exchanges(phase: dict) -> None:
    """Shuffle exchanges in the executed plans of each operation's
    collected results (read after the timed region)."""
    from tools.exchange_budget import shuffle_count

    for rec in phase["records"]:
        rec["exchanges"] = sum(
            shuffle_count(df._jdf.queryExecution().executedPlan().toString())
            for df in rec["ctx"].frames.get(rec["id"], [])
        )


def _dump_op_counts(r: Runner, traced: dict, args) -> None:
    """Per-operation counts of the traced phase (first execution of each
    operation), for comparing two runs of the same seed."""
    first: dict[str, dict] = {}
    for rec in sorted(traced["records"], key=lambda x: x["start"]):
        name = r.ops[rec["op"]].name
        if name in first:
            continue
        ex = traced["exec"].get(rec["id"], {})
        first[name] = {
            "jobs": ex.get("jobs", 0),
            "stages": ex.get("stages", 0),
            "shuffle_exchanges": rec["exchanges"],
            "rows_written": ex.get("output_records", 0),
        }
    first["_run"] = {"materialize.builds": traced["builds"]}
    path = os.path.join(HERE, ".work", f"counts-{args.workload}-{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(first, f, indent=1, sort_keys=True)
    print(f"counts: {path}")


def _print_report(args, r: Runner, setup_wall, setup_cpu, phase: dict, sections: dict, failures) -> None:
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"cpus {os.environ['SPARK_GRAFT_CPUS']}  rows {r.manifest['rows']}")
    print(f"setup rounds, wall: {', '.join(f'{t:.3f}' for t in setup_wall)} s; "
          f"CPU: {', '.join(f'{t:.3f}' for t in setup_cpu)} s")
    print("cached RDDs / storage MB after each pass: "
          + ", ".join(f"{n} / {mb:.2f}" for n, mb in phase["storage_after"]))
    for section, metrics in sections.items():
        print(f"-- {section}")
        for k, (v, u) in metrics.items():
            print(f"  {k:34s} {v:14.4f} {u}")
    by_op: dict[str, list[tuple[float, float]]] = {}
    for rec in phase["records"]:
        by_op.setdefault(r.ops[rec["op"]].name, []).append((rec["dt"], rec["check_s"]))
    for name, runs in by_op.items():
        dts, checks = zip(*runs)
        print(f"  op {name:32s} n={len(dts):3d} median {statistics.median(dts):7.3f} s"
              f"  check {statistics.median(checks):7.3f} s")
    for f in failures[:20]:
        print(f"FAILED {f}")


def _abort(get_runner) -> None:
    print(f"run exceeded {WATCHDOG_S} s; aborting", file=sys.stderr, flush=True)
    r = get_runner()
    try:
        if r is not None and getattr(r, "spark", None) is not None:
            pid = int(r.spark._jvm.ProcessHandle.current().pid())
            os.kill(pid, 9)
    finally:
        os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
