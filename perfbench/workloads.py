"""Set-up, the timed closed loop, tracing and metric assembly for one run."""

from __future__ import annotations

import contextlib
import os
import platform
import signal
import statistics
import subprocess
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from datagen import generate
from measure import (
    PeakMemory, Span, median, process_tree, sample_tree, self_times, tail_percentile,
    union_length,
)
from schedule import API_ROUTES, Op, block_maker, etl_refresh_op, timed_blocks

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "serve.init_s": "s",
    "serve.driver_s": "s",
    "serve.jobs_per_req": "count",
    **{f"serve.route_s.{r}": "s" for r in API_ROUTES},
    "driver_queries.build_s": "s",
    "driver_queries.build_jobs": "count",
    "driver_queries.cache_mb": "MB",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plans.etl_s": "s",
    "plans.etl_jobs": "count",
    "sources.readback_s": "s",
    "sources.input_mb": "MB",
    "sources.output_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.python_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.busy_frac": "ratio",
    "exec.failed_tasks": "count",
    "trace.wall_s": "s",
    "peak_rss_mb": "MB",
}


def warm_up(spark, cpus: int) -> None:
    """Start one Python worker per core, so no operation pays for
    forking them. The JVM's just-in-time compiler is warmed by the
    workload's own untimed first block, not here."""

    def passthrough(batches):
        yield from batches

    spark.range(cpus, numPartitions=cpus).mapInPandas(passthrough, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def noise_probes(spark) -> dict:
    """bench.py's host-noise yardsticks: a fixed single-thread Python spin
    and a fixed whole-stage-codegen JVM job."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    t1 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2)").collect()
    return {"cpu_probe_s": t1 - t0, "jvm_probe_s": time.perf_counter() - t1}


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for
    each: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    children = process_tree(os.getpid())[1:]
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    try:
        jvm.wait(60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 60
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][0] != "Z"
    except OSError:
        return False


class Runner:
    """Executes operations against one session and dataset."""

    def __init__(self, spark, data_dir: str, run_dir: str, observer):
        from algoritmos_etl_spark.driver_queries import REGISTRY

        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.api = None  # a serve.JsonApi, for api operations
        self.observer = observer
        self.registry = REGISTRY
        self.n_ops = 0

    def run(self, op: Op) -> dict:
        """One operation under its own job group. The latency covers the
        operation only; tracing reads happen after it."""
        self.n_ops += 1
        group = f"op{self.n_ops}:{op.name}"
        self.sc.setJobGroup(group, op.path or op.name)
        rec = {"op": self.n_ops, "kind": op.kind, "name": op.name, "path": op.path,
               "query": op.query, "params": op.params, "error": None, "sub": []}
        start, p0 = time.time(), time.perf_counter()
        try:
            rec["out"] = getattr(self, f"_{op.kind}")(op, rec["sub"])
        except Exception as exc:  # a failed operation is counted, the run goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        rec["latency_s"] = time.perf_counter() - p0
        rec["start"], rec["end"] = start, start + rec["latency_s"]
        if self.observer is not None:
            rec["report"] = self.observer.new_jobs_report()
            rec["phases"], rec["batches"] = self.observer.drain()
        return rec

    def _api(self, op: Op, sub: list) -> tuple[int, dict]:
        return self.api.dispatch(op.path, op.query)

    def _query(self, op: Op, sub: list):
        t0 = time.time()
        df = self.registry[op.name].build(self.spark, self.data_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        sub += [("build", t0, t1), ("execute", t1, time.time())]
        return df

    def _etl(self, op: Op, sub: list) -> dict:
        from pyspark.sql import functions as F

        from algoritmos_etl_spark.plans.etl_pipeline import run_etl

        out = os.path.join(self.run_dir, "etl", f"op{self.n_ops}")
        t0 = time.time()
        # the long master only: the wide CSV export adds 15 small jobs
        # (about 5 s) that do not fit the run budget
        report = run_etl(self.spark, self.data_dir, out, write_wide_csv=False)
        t1 = time.time()
        p = op.params
        long_rows = (
            self.spark.read.parquet(f"{out}/master_long.parquet")
            .filter(
                (F.col("year") == int(p["date_lo"][:4]))
                & F.col("date").between(p["date_lo"], p["date_hi"])
                & F.col("symbol").isin(p["symbols"])
            )
            .count()
        )
        readback = {"long_rows": long_rows}
        sub += [("etl", t0, t1), ("readback", t1, time.time())]
        return {"report": report, "readback": readback}


def check(checker, rec: dict) -> str | None:
    if rec["error"]:
        return rec["error"]
    out = rec["out"]
    if rec["kind"] == "api":
        status, payload = out
        return checker.api(rec["name"], rec["query"], rec["path"], status, payload)
    if rec["kind"] == "query":
        return checker.query(rec["name"], out.columns, [tuple(r) for r in out.collect()])
    return checker.etl(out["report"], out["readback"], rec["params"])


def trace_spans(records: list[dict]) -> list[Span]:
    """Operation spans, their build/execute (or etl/readback) children,
    then Spark jobs and stages, and streaming micro-batches."""
    spans: list[Span] = []
    for rec in records:
        op_i = len(spans)
        spans.append(Span(rec["name"], rec["start"], rec["end"], None, "op", {"op": rec["op"]}))
        subs = []
        for name, s, e in rec["sub"]:
            subs.append((len(spans), s, e))
            spans.append(Span(name, s, e, op_i, "phase"))
        offset = len(spans)
        for sp in rec["report"].spans:
            if sp.kind == "job":
                sp.parent = next((i for i, s, e in subs if s <= sp.start < e), op_i)
            else:
                sp.parent += offset
            spans.append(sp)
        for b in rec["batches"]:
            start = _iso_epoch(b["timestamp"])
            spans.append(Span(f"batch {b['batch_id']}", start, start + b["duration_s"], op_i, "batch"))
    return spans


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def layer_metrics(records, staged, blocks, setup, cpus, cache_mb, python_s) -> dict:
    """Per-layer numbers of a traced run: per block where they add up
    over the timed `records`; the ETL numbers from the `staged` refresh."""
    from sparkstats import ExecTotals

    nb = len(blocks)
    api = [r for r in records if r["kind"] == "api"]
    queries = [r for r in records if r["kind"] == "query"]
    etls = [r for r in staged if r["kind"] == "etl"]
    tot = ExecTotals()
    for r in records:
        tot.add(r["report"].totals)

    def sub_s(rec, name):
        return sum(e - s for n, s, e in rec["sub"] if n == name)

    def jobs_in(rec, name):
        return [sp for sp in rec["report"].spans if sp.kind == "job"
                and any(n == name and s <= sp.start < e for n, s, e in rec["sub"])]

    def driver_s(rec):
        jobs = [(sp.start, sp.end) for sp in rec["report"].spans if sp.kind == "job"]
        return rec["latency_s"] - union_length(jobs, rec["start"], rec["end"])

    phase = {k: sum(p.get(k, 0.0) for r in records for p in r["phases"]) / nb
             for k in ("analysis", "optimization", "planning")}
    batches = [b for r in records for b in r["batches"]]
    m = {
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "serve.init_s": setup.get("serve.init_s", 0.0),
        "serve.driver_s": median([driver_s(r) for r in api]),
        "serve.jobs_per_req": statistics.fmean([r["report"].totals.jobs for r in api]) if api else 0.0,
        **{f"serve.route_s.{rt}": median([r["latency_s"] for r in api if r["name"] == rt])
           for rt in API_ROUTES},
        "driver_queries.build_s": sum(sub_s(r, "build") for r in queries) / nb,
        "driver_queries.build_jobs": sum(len(jobs_in(r, "build")) for r in queries) / nb,
        "driver_queries.cache_mb": cache_mb,
        "catalyst.analysis_s": phase["analysis"],
        "catalyst.optimization_s": phase["optimization"],
        "catalyst.planning_s": phase["planning"],
        "plans.etl_s": median([sub_s(r, "etl") for r in etls]),
        "plans.etl_jobs": median([len(jobs_in(r, "etl")) for r in etls]),
        "sources.readback_s": median([sub_s(r, "readback") for r in etls]),
        "sources.input_mb": median([r["report"].totals.input_mb for r in etls]),
        "sources.output_mb": median([r["report"].totals.output_mb for r in etls]),
        "streaming.batches": len(batches) / nb,
        "streaming.batch_s": sum(b["duration_s"] for b in batches) / nb,
        "exec.python_s": python_s / nb,
        "exec.busy_frac": tot.task_s / (sum(blocks) * cpus),
        "trace.wall_s": median(blocks),
    }
    for k in ("jobs", "stages", "tasks", "job_s", "task_s", "task_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks"):
        m[f"exec.{k}"] = getattr(tot, k) / nb
    return m


def run_workload(args, run_dir: str, pinned: dict) -> tuple[dict, dict]:
    import pyspark

    from algoritmos_etl_spark.serve import JsonApi
    from algoritmos_etl_spark.session import get_spark
    from checks import Checker
    from sparkstats import SparkObserver

    # wall time of each phase of the run, for the sidecar
    timeline, last = {}, [time.perf_counter()]

    def phase_done(name: str) -> None:
        now = time.perf_counter()
        timeline[name], last[0] = now - last[0], now

    cpus = pinned["cpus"]
    data_dir = os.path.join(run_dir, "data")
    paths = generate(data_dir, args.seed)
    ev = pq.read_table(paths["events"], columns=["ts", "user_id"])
    symbols = sorted(pc.unique(ev["user_id"]).to_pylist())
    dates = sorted({str(d) for d in pc.unique(pc.cast(ev["ts"], "date32")).to_pylist()})

    # ---- set-up: session, warm-up, workload staging
    t0 = time.perf_counter()
    java_opts = pinned["spark.driver.extraJavaOptions"]
    spark = get_spark("perfbench", cpus=cpus, extra_conf={"spark.driver.extraJavaOptions": java_opts})
    t1 = time.perf_counter()
    setup = {"session.start_s": t1 - t0}
    warm_up(spark, cpus)
    t2 = time.perf_counter()
    setup["session.warmup_s"] = t2 - t1
    observer = None
    if args.trace:
        observer = SparkObserver(spark)
        observer.start_listeners()
        observer.new_jobs_report()  # warm-up jobs are not an operation's
    staged = []
    runner = Runner(spark, data_dir, run_dir, observer)
    if args.workload == "api_mix":
        # the bars cache fills on the first request; it is the symbol
        # list, which is checked like every operation but not timed
        runner.api = JsonApi(spark, data_dir)
        staged.append(runner.run(Op("api", "symbols", "/api/symbols")))
        setup["serve.init_s"] = time.perf_counter() - t2
    if args.workload == "query_catalog" and args.trace:
        # the ETL layers are measured on one refresh of the master
        # dataset with its read-back, checked like every operation. Only
        # traced runs stage it: at 15-20 s a refresh would be a third of
        # every untraced run, and no timed operation reads its output.
        staged.append(runner.run(etl_refresh_op(args.seed, symbols, dates)))
        setup["etl_refresh_s"] = staged[0]["latency_s"]
    # one untimed block: a serving process answers many requests and a
    # catalog runs again and again, so the timed blocks are the warm
    # ones. The first block pays the JIT compilation of every route or
    # query and, on query_catalog, stages bars_model's fixture.
    next_block = block_maker(args.workload, args.seed, symbols)
    t3 = time.perf_counter()
    staged += [runner.run(op) for op in next_block()]
    setup["first_block_s"] = time.perf_counter() - t3
    setup_s = time.perf_counter() - t0
    phase_done("inputs_and_setup")
    if observer is not None:
        observer.new_jobs_report()  # set-up jobs are not an operation's

    # ---- timed region: whole blocks, closed loop
    root = os.getpid()
    before = sample_tree(root)
    records, blocks = [], []
    with PeakMemory(root) as memory:
        for _ in range(timed_blocks(args.workload, args.seconds)):
            b0 = time.perf_counter()
            records += [runner.run(op) for op in next_block()]
            blocks.append(time.perf_counter() - b0)
    after = sample_tree(root)
    phase_done("timed")

    probes = noise_probes(spark)
    phase_done("probes")

    # ---- output checks, outside the timed region
    checker = Checker(data_dir)
    for rec in staged + records:
        try:
            rec["check"] = check(checker, rec)
        except Exception as exc:  # a check that cannot run fails its operation
            rec["check"] = f"check raised {type(exc).__name__}: {exc}"[:400]
    failed = sum(1 for r in staged + records if r["check"])
    phase_done("checks")
    java = spark.sparkContext._jvm.System.getProperty("java.version")

    if args.trace:
        from algoritmos_etl_spark.driver_queries import session_cache_storage_bytes

        cache_mb = session_cache_storage_bytes(spark) / 2**20
        observer.stop_listeners()
        spans = trace_spans(staged + records)
        python_s = after.worker_cpu_s - before.worker_cpu_s
        values = layer_metrics(records, staged, blocks, setup, cpus, cache_mb, python_s)
        values["peak_rss_mb"] = memory.peak_mb
        units = PER_LAYER
    else:
        spans = []
        values, units = {
            "setup_s": setup_s,
            "wall_s": median(blocks),
            "latency_p50_s": median([r["latency_s"] for r in records]),
            "cpu_s": (after.cpu_s - before.cpu_s) / len(blocks),
        }, END_TO_END
    stop_session(spark)
    phase_done("stop")

    latencies = [r["latency_s"] for r in records]
    tail = tail_percentile(latencies)
    result = {
        "correct": failed == 0,
        "attempted": len(staged) + len(records),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    sidecar = {
        "run": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "pinned": pinned, "pyspark": pyspark.__version__,
            "java": java, "python": platform.python_version(),
        },
        "probes": probes,
        "setup": {"setup_s": setup_s, **setup},
        "blocks_s": blocks,
        "timeline_s": timeline,
        "tree": {"pids_at_end": after.pids, "cpu_s_total": after.cpu_s - before.cpu_s,
                 "peak_mb": memory.peak_mb, "memory_samples": memory.samples},
        "latency_tail": (
            {"percentile": tail[0], "value_s": tail[1], "n": len(latencies)} if tail
            else {"omitted": f"{len(latencies)} operations; needs at least 20"}
        ),
        "ops": [
            {k: r[k] for k in ("op", "kind", "name", "path", "params", "latency_s", "error", "check")}
            for r in staged + records
        ],
        "result": result,
    }
    if args.trace:
        st = self_times(spans)
        sidecar["spans"] = [
            {"id": i, "parent": sp.parent, "name": sp.name, "kind": sp.kind,
             "start": sp.start, "end": sp.end, "self_s": st[i], **sp.attrs}
            for i, sp in enumerate(spans)
        ]
    return result, sidecar
