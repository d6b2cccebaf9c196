"""Benchmark command: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload pipeline_refresh --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads (README.md says why each exists):

  pipeline_refresh  the paper's refresh workflow: cold load, incremental
                    run with revisions, then seeded read-back, checked
                    against a plain-Python reference model
  queries_short     15 sub-second declared queries through the noop sink

Query results are checked against DuckDB running ``oracle_sql()``.
With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are its per-layer ones, from the same pass run
with layer spans. The last line of stdout is the result; progress and
per-operation verdicts go to stderr.
"""

from __future__ import annotations

import time

T_START = time.time()  # setup_s counts from interpreter start-up

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("pipeline_refresh", "queries_short")
RUN1 = dt.datetime(2025, 6, 2, 3, 0, 0)
RUN2 = RUN1 + dt.timedelta(hours=25)  # past the 24 h freshness gate
N_READS = 30
WARMUP_READS = 8  # plan_reads gives 5 point lookups, 2 latest-N, 1 revisions
FETCHED_SOURCES = ("edb_monthly", "fred", "nyu_stern")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file the run writes under ``work`` and make the engine
    importable in Python workers, which unpickle engine functions."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata, no /tmp files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TZ"] = "UTC"  # collect() renders timestamps in local time
    time.tzset()
    sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    from econdatapipeline_spark.session import get_spark  # noqa: PLC0415

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "catalog"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # bench.py's rule: local[cores], two shuffle partitions per core
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores * 2, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def settle(spark) -> None:
    """Untimed, between operations: drop cached working sets and collect
    both heaps, as bench.py does, so one operation does not pay for the
    garbage of the last."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this process plus its Spark JVM."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]  # noqa: SLF001
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return total_kb / 1024.0


# -- pipeline_refresh -----------------------------------------------------------

def choose_specs(seed, fred_frequency=None) -> tuple:
    """One EDB and one FRED dataset drawn by the seed, plus the NYU one.
    ``fred_frequency`` limits the FRED draw to series of that frequency."""
    from econdatapipeline_spark.registry import EDB_SPECS, FRED_SPECS, NYU_SPEC  # noqa: PLC0415

    rng = random.Random(f"{seed}:specs")
    fred = [s for s in FRED_SPECS if fred_frequency in (None, s.frequency)]
    return (rng.choice(EDB_SPECS), rng.choice(fred), NYU_SPEC)


def do_read(wh, op):
    from pyspark.sql import functions as F  # noqa: PLC0415

    kind, spec, arg = op
    if kind == "point_lookup":
        df = wh.point_lookup(spec.name, arg)
    elif kind == "latest_n":
        cutoff, n = arg
        df = (wh.read(spec.name).filter(F.col("date") >= F.lit(cutoff))
              .orderBy(F.col("date").desc()).limit(n))
    else:
        df = wh.revisions().filter(F.col("dataset") == spec.name)
    return df.columns, df.collect()


READ_SPAN = {"point_lookup": "warehouse.point_lookup", "latest_n": "warehouse.read",
             "revisions": "warehouse.revisions"}


def refresh(spark, root: str, specs, seed, n_reads: int, tracer=None, check=True) -> dict:
    """Cold load, incremental run and read-back into a fresh warehouse.

    Returns phase windows, read latencies and, when ``check``, the
    failed operations: a dataset-phase whose status, counts, table rows,
    revision rows or watermark differ from the reference, or a read
    whose rows differ.
    """
    import workflow  # noqa: PLC0415

    from econdatapipeline_spark.pipeline import run_pipeline  # noqa: PLC0415
    from econdatapipeline_spark.sources.warehouse import Warehouse  # noqa: PLC0415

    wh = Warehouse(spark, root)
    batches = {s.name: workflow.generate(s, seed) for s in specs}
    expected = {s.name: workflow.Expected() for s in specs}
    out = {"phases": {}, "read_s": [], "failures": [], "attempted": 0,
           "expected": expected, "details": {}}
    for phase, run_ts, i in (("cold_load", RUN1, 0), ("incremental", RUN2, 1)):
        fetch = lambda spec, i=i: batches[spec.name][i].payload  # noqa: E731
        settle(spark)
        t0 = time.time()
        summary = run_pipeline(spark, wh, dict.fromkeys(FETCHED_SOURCES, fetch),
                               specs=tuple(specs), run_ts=run_ts)
        out["phases"][phase] = (t0, time.time())
        for spec, detail in zip(specs, summary["details"]):
            out["details"][spec.name] = detail
            workflow.merge(expected[spec.name], spec, batches[spec.name][i].rows, run_ts)
            if check:
                problems = workflow.check_dataset(root, spec, detail, expected[spec.name], run_ts)
                out["attempted"] += 1
                if problems:
                    out["failures"].append(f"{phase}/{spec.name}: {'; '.join(problems)}")
    ops = workflow.plan_reads(specs, expected, seed, n_reads)
    answers = []
    settle(spark)
    t0 = time.time()
    for op in ops:
        a = time.time()
        if tracer is None:
            answers.append(do_read(wh, op))
        else:
            with tracer.span(READ_SPAN[op[0]]):
                answers.append(do_read(wh, op))
        out["read_s"].append(time.time() - a)
    out["phases"]["read_back"] = (t0, time.time())
    if check:
        for op, (cols, rows) in zip(ops, answers):
            out["attempted"] += 1
            if not workflow.check_read(op, cols, rows, expected):
                out["failures"].append(f"read {op[0]} {op[1].name} {op[2]}")
    return out


def storage_cost(root: str) -> tuple[int, float]:
    """(parquet files, bytes per stored row) of a warehouse, table rows
    and revision rows counted."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    files = rows = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                path = os.path.join(dirpath, n)
                files += 1
                size += os.path.getsize(path)
                rows += pq.ParquetFile(path).metadata.num_rows
    return files, size / max(rows, 1)


def pipeline_refresh(spark, seed, work: str, tracer=None):
    specs = choose_specs(seed)
    # Warm-up: the same workflow on payloads of another seed into another
    # warehouse, one dataset of each source type, so every normalizer,
    # merge shape and read kind is used once before the clock starts.
    # Its FRED series is quarterly, whose plan is a superset of the
    # monthly one; 8 reads include a revision-log read.
    warmup = f"warmup-{seed}"
    refresh(spark, os.path.join(work, "wh-warmup"), choose_specs(warmup, fred_frequency="q"),
            warmup, n_reads=WARMUP_READS, check=False)
    setup_done = time.time()
    root = os.path.join(work, "wh")
    if tracer is not None:
        trace_pipeline(tracer)
    try:
        res = refresh(spark, root, specs, seed, N_READS, tracer=tracer)
    finally:
        if tracer is not None:
            tracer.restore()
    windows = {k: [w] for k, w in res["phases"].items()}
    log("phases", {k: round(_wall(w), 3) for k, w in res["phases"].items()})
    metrics = {
        "pass_s": sum(map(_wall, res["phases"].values())),
        "op_p50_s": statistics.median(res["read_s"]),
    }
    if tracer is not None:
        metrics["warehouse.files"], metrics["warehouse.bytes_per_row"] = storage_cost(root)
        metrics["pipeline.cold_load_s"] = _wall(res["phases"]["cold_load"])
        metrics["pipeline.incremental_s"] = _wall(res["phases"]["incremental"])
    return setup_done, metrics, windows, res["attempted"], res["failures"], []


def trace_pipeline(tracer) -> None:
    from econdatapipeline_spark import pipeline  # noqa: PLC0415
    from econdatapipeline_spark.operators import merge  # noqa: PLC0415
    from econdatapipeline_spark.sources.warehouse import Warehouse  # noqa: PLC0415

    tracer.wrap_function(pipeline.normalize, "sources.normalize")
    tracer.wrap_function(merge.smart_update, "merge.smart_update")
    tracer.wrap_method(merge.MergeResult, "counts", "merge.counts")
    for attr in ("write_dataset", "update_last_run", "append_revisions", "should_update",
                 "read_or_empty"):
        tracer.wrap_method(Warehouse, attr, f"warehouse.{attr}")


def pipeline_layers(tracer) -> dict:
    m = {}
    for name in ("merge.counts", "warehouse.write_dataset", "warehouse.update_last_run",
                 "merge.smart_update"):
        lay = tracer.layer(name)
        m[f"{name}_s"] = lay["s"]
        m[f"{name}_jobs"] = lay["jobs"]
    for name in ("warehouse.append_revisions", "warehouse.should_update",
                 "warehouse.read_or_empty", "sources.normalize", "warehouse.point_lookup",
                 "warehouse.revisions", "warehouse.read"):
        m[f"{name}_s"] = tracer.layer(name)["s"]
    m["pipeline.jobs"] = sum(len(s.jobs) for s in tracer.spans.values())
    return m


def _wall(window) -> float:
    return window[1] - window[0]


# -- query mixes ----------------------------------------------------------------

def query_pass(spark, names, tracer=None, collect=True):
    """Run ``names`` in order; returns (windows, results, failures).

    A query's latency is its build (the Python call that returns the
    DataFrame, including any eager jobs) plus its noop write. Its
    result is collected after the clock stops, for the oracle check.
    """
    import __spark_entry__ as entry  # noqa: PLC0415

    queries = entry.queries()
    windows, results, failures = {}, {}, []
    for name in names:
        try:
            t0 = time.time()
            if tracer is None:
                df = queries[name](spark, DATA)
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("query.build"):
                    df = queries[name](spark, DATA)
                with tracer.span("query.catalyst"):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                with tracer.span("query.exec"):
                    df.write.format("noop").mode("overwrite").save()
            windows[name] = (t0, time.time())
            log(f"query {name}: {_wall(windows[name]):.3f} s")
            if collect:
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 — a failing query is a failed operation
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
        settle(spark)
    return windows, results, failures


def queries_short(spark, seed, work: str, tracer=None):
    import querymix  # noqa: PLC0415

    query_pass(spark, querymix.SHORT_WARMUP, collect=False)
    setup_done = time.time()
    order = list(querymix.SHORT_TIMED)
    random.Random(f"{seed}:order").shuffle(order)
    if tracer is not None:
        trace_queries(tracer)
    try:
        windows, results, failures = query_pass(spark, order, tracer=tracer)
    finally:
        if tracer is not None:
            tracer.restore()
    verdicts = querymix.oracle_check(DATA, results, os.path.join(work, "tmp"))
    known = []
    for name, verdict in sorted(verdicts.items()):
        log(f"{name}: {verdict}")
        if verdict.startswith("known:"):
            known.append(f"{name}: {verdict}")
        elif verdict not in ("ok", "rows_only"):
            failures.append(f"{name}: {verdict}")
    times = [_wall(w) for w in windows.values()]
    metrics = {"pass_s": sum(times), "op_p50_s": statistics.median(times)}
    return setup_done, metrics, {"queries": list(windows.values())}, len(order), failures, known


def trace_queries(tracer) -> None:
    import importlib  # noqa: PLC0415
    import pkgutil  # noqa: PLC0415

    from econdatapipeline_spark import operators  # noqa: PLC0415
    from econdatapipeline_spark.sources import tables  # noqa: PLC0415

    tracer.wrap_function(tables.load_table, "tables.load_table")
    tracer.wrap_function(tables.fan_out, "tables.fan_out")
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        tracer.wrap_module(mod, f"op.{info.name}")


def query_layers(tracer) -> dict:
    m = {}
    build = tracer.layer("query.build")
    m["query.build_s"] = build["s"]
    m["query.build_jobs"] = build["jobs"]
    m["query.build_job_s"] = build["job_s"]
    m["query.driver_gap_s"] = build["s"] - build["job_s"]
    catalyst, exe = tracer.layer("query.catalyst"), tracer.layer("query.exec")
    m["query.catalyst_s"] = catalyst["s"]
    m["query.exec_s"] = exe["s"]
    m["query.jobs"] = sum(lay["jobs"] for lay in (build, catalyst, exe))
    m["query.task_s"] = sum(lay["task_s"] for lay in (build, catalyst, exe))
    for name in ("tables.load_table", "tables.fan_out"):
        lay = tracer.layer(name)
        m[f"{name}_s"] = lay["s"]
        m[f"{name}_calls"] = lay["calls"]
    for name, s in tracer.self_seconds("op.").items():
        m[f"{name}.self_s"] = s
    return m


def trace_layers(tracer, windows: dict, span_cost: float) -> dict:
    """Coverage and cost of the spans themselves.

    ``trace.unattributed_frac``: the largest share, over the phases, of
    a phase's wall time that no span covers. ``trace.overhead_frac``:
    the measured cost of the pass's span entries and exits over the
    traced pass wall time without it. ``trace.pass_s`` is the traced
    pass wall time, to set against ``pass_s`` of untraced runs.
    """
    gaps = {k: sum(tracer.uncovered(*w) for w in ws) for k, ws in windows.items()}
    walls = {k: sum(map(_wall, ws)) for k, ws in windows.items()}
    total = sum(walls.values())
    cost = len(tracer.spans) * span_cost
    return {
        "pipeline.self_s": sum(gaps.values()) if "cold_load" in windows else 0.0,
        "trace.unattributed_frac": max(gaps[k] / walls[k] for k in walls),
        "trace.overhead_frac": cost / (total - cost),
        "trace.pass_s": total,
    }


# -- main -------------------------------------------------------------------------

def measure(workload: str, seed: int, work: str, trace: bool) -> tuple:
    """One run in a fresh session: (metrics, attempted, failures, known)."""
    import spans  # noqa: PLC0415

    spark = start_session(work, trace)
    log(f"session up after {time.time() - T_START:.2f} s")
    tracer = spans.Tracer(spark) if trace else None
    try:
        if workload == "pipeline_refresh":
            res = pipeline_refresh(spark, seed, work, tracer)
        else:
            res = queries_short(spark, seed, work, tracer)
        setup_done, metrics, windows, attempted, failures, known = res
        metrics["setup_s"] = setup_done - T_START
        metrics["jvm.peak_rss_mb"] = peak_rss_mb(spark)
        span_cost = spans.span_cost(spark) if trace else 0.0
    finally:
        stop_session(spark)
    if trace:
        tracer.attach_jobs(os.path.join(work, "events"))
        metrics.update(pipeline_layers(tracer) if workload == "pipeline_refresh"
                       else query_layers(tracer))
        metrics.update(trace_layers(tracer, windows, span_cost))
        log("operator layers reached:", sorted(k for k in metrics if k.startswith("op.")))
    return metrics, attempted, failures, known


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=30,
                    help="accepted for a uniform command line; each workload is a "
                         "fixed pass of about 20-35 s on 4 cores")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    work = os.path.join(HERE, ".work", f"{args.workload}-{uuid.uuid4().hex[:8]}")
    try:
        isolate(work)
        sys.path.insert(0, HERE)
        metrics, attempted, failures, known = measure(
            args.workload, args.seed, work, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log("FAILED", f)
    for k in known:
        log("FAILED (known engine defect)", k)

    out = {}
    for m in declared["per_layer"] if args.trace else declared["end_to_end"]:
        # with --trace 1, a layer this workload never reaches reads 0
        value = metrics.get(m["name"], 0) if args.trace else metrics[m["name"]]
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures) + len(known),
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
