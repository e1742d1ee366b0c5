#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 15 --trace 0

Run from the repository root (or anywhere: paths resolve from this file).
One process, one client, closed loop: a single Python process and its Spark
JVM on ``local[nproc]`` run one query at a time.

Per run: generate (or reuse) the inputs, start Spark and import the query
registry (``setup_s``), run one cold pass whose results are collected for
the answer check (``warmup_s``), then warm passes through the noop sink
until ``--seconds`` have gone, at least one (``pass_s``, ``query_p50_s``).
The answer check runs after the timed passes. ``--trace 1`` adds the event
log and the layer wrappers of ``layers.py`` and reports per-layer metrics
instead.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it carries ``error_rate`` (= failed / attempted), any
failure reasons, the raw wall seconds and unstolen shares behind the
steal-adjusted times (see ``unstolen``), each query's wall seconds and the
host stamp (nproc, steal_over_user, load1).

Other modes: ``--selftest`` checks the tracer's load_table count against an
independent count at sf0.001; ``--pin`` rewrites ``digests.json`` from the
current engine's answers (only after a reviewed change to an approximate
query).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mapreduce_infrastructure_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = {
    "tpch_olap": (
        "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue", "q9_profit_by_nation_year",
        "join_range_quantity_size", "join_region_customers", "window_running_total", "top10_orders",
        "session_window_30m", "asof_join_purchase_click", "stats_corr_qty_price", "window_tumbling_hourly",
    ),
    # The two workloads below are cut to the queries that carry their layers
    # (README, "Budget").
    "llm_dedup": (
        "minhash_lsh_pairs", "neardup_cosine_pairs", "neardup_cosine_ivf", "dedup_exact", "tfidf_top_terms",
    ),
    "stream_replay": (
        "stream_tumbling_hourly", "stream_pricing_summary", "stream_user_totals", "stream_hourly_active_users",
    ),
    "mr_wordcount_job": (),
}
SCALE = "sf0.01"  # fixture scale of the timed query workloads
MIN_PASSES = 1  # two in a traced run: one untraced, one traced
MR_OUTPUT_FILES = 8
MR_SPLIT_KB = 1024
# The bounded end-to-end metrics of BENCHMARK.json. error_rate is printed
# beside them, on the line before the result: it is 0 on a correct engine,
# so no share of its median can bound it.
E2E = ("setup_s", "warmup_s", "pass_s", "query_p50_s")


def process_start() -> float:
    """Epoch time at which this process started (``/proc``), else now."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


def cpu_ticks() -> tuple[int, int, int]:
    """(user + nice, system + irq + softirq, steal) ticks of the whole host,
    from ``/proc/stat``."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[0] + v[1], v[2] + v[5] + v[6], v[7] if len(v) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def unstolen(ticks0: tuple[int, int, int]) -> float:
    """Share of the CPU time the host's vCPUs wanted since ``ticks0`` that
    they got: busy / (busy + steal). Steal is time a runnable vCPU waited
    while the hypervisor ran other tenants (an idle vCPU accrues none), so a
    window's wall time times this share is what it would have taken on an
    unshared host. Every bounded time is reported so; the raw wall times are
    on the line before the result."""
    user, system, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
    busy = user + system
    return busy / (busy + steal) if busy + steal else 1.0


def host_stamp(ticks0: tuple[int, int, int]) -> dict[str, float]:
    """Host contention over the run: hypervisor steal per user tick and the
    1-minute load, so a contaminated reading can be told from a regression."""
    user, _, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
    try:
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
    except (OSError, ValueError):
        load1 = 0.0
    return {"host.nproc": nproc(), "host.steal_over_user": steal / user if user else 0.0, "host.load1": load1}


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def start_spark(trace_dir: str | None):
    """Start the engine's own session, import the registry and run one
    trivial action. The traced run's event-log confs go through
    ``PYSPARK_SUBMIT_ARGS``, so ``get_spark`` keeps its own static confs."""
    if trace_dir:
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{trace_dir}",
            "spark.eventLog.compress": "false",  # one plain JSON-lines file
            "spark.eventLog.rolling.enabled": "false",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = "".join(f"--conf {k}={v} " for k, v in confs.items()) + "pyspark-shell"
    t0 = time.perf_counter()
    from mapreduce_infrastructure_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    from mapreduce_infrastructure_spark.registry import all_queries

    queries = all_queries()
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, queries, {"session.get_spark_s": t1 - t0, "registry.all_queries_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


class Run:
    """Counters and timings of one workload run."""

    def __init__(self, seconds: float, tracer) -> None:
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.warmup_s = 0.0  # wall time of the cold pass
        self.warmup_share = 1.0  # its unstolen() share
        self.passes: list[float] = []  # wall time of each warm pass
        self.shares: list[float] = []  # and its unstolen() share
        self.traced: list[bool] = []
        self.windows: list[tuple[float, float]] = []  # epoch windows of traced passes
        self.latencies: list[float] = []
        self.by_query: dict[str, list[float]] = {}  # cold latency first, then warm ones

    def fail(self, key: str, reason: str) -> None:
        self.failures[key] = reason[:300]

    def warm_passes(self, one_pass, collect_garbage) -> None:
        """Warm passes until ``seconds`` have gone, at least MIN_PASSES. Each
        pass starts from a collected heap (untimed), so a collection left over
        from an earlier pass does not land in the next one. In a traced run
        the passes alternate untraced / traced, so the tracer's own cost reads
        as ``trace.overhead_ratio``."""
        least = MIN_PASSES if self.tracer is None else 2
        start = time.perf_counter()
        while len(self.passes) < least or time.perf_counter() - start < self.seconds:
            collect_garbage()
            traced = self.tracer is not None and len(self.passes) % 2 == 1
            if self.tracer is not None:
                self.tracer.on = traced
            e0, t0, k0 = time.time(), time.perf_counter(), cpu_ticks()
            one_pass(len(self.passes))
            self.passes.append(time.perf_counter() - t0)
            self.shares.append(unstolen(k0))
            self.traced.append(traced)
            if traced:
                self.windows.append((e0, time.time()))
                self.tracer.on = False

    def adjusted(self, traced: bool) -> list[float]:
        """Steal-adjusted seconds of the untraced (or traced) warm passes."""
        return [p * s for p, s, t in zip(self.passes, self.shares, self.traced) if t == traced]

    def metrics(self) -> dict[str, float]:
        return {
            "warmup_s": self.warmup_s * self.warmup_share,
            "pass_s": statistics.median(self.adjusted(False)),
            "query_p50_s": statistics.median(self.latencies),
        }


def collector(spark):
    """Full collection of the Spark JVM's and this process's heaps."""

    def collect_garbage() -> None:
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    return collect_garbage


def run_queries(spark, queries, names, table_dir: str, scale: str, run: Run, pin: bool = False) -> None:
    from check import check_queries, digest

    # Every pass runs the queries in the workload's listed order. Per-query
    # latency can depend on the order (neardup_cosine_pairs read 2.2-4.4 s
    # across the shuffled orders of ten seeds on a lightly loaded host), which
    # would widen the spread between runs of different seeds.
    results = {}
    t0, k0 = time.perf_counter(), cpu_ticks()
    for name in names:
        run.attempted += 1
        q0 = time.perf_counter()
        try:
            results[name] = queries[name].fn(spark, table_dir).toPandas()
        except Exception as e:
            run.fail(f"{name}#cold", f"{type(e).__name__}: {e}")
        run.by_query[name] = [time.perf_counter() - q0]
    run.warmup_s, run.warmup_share = time.perf_counter() - t0, unstolen(k0)

    def one_pass(i: int) -> None:
        for name in names:
            q = queries[name]
            module = q.fn.__module__.removeprefix(PKG + ".")
            run.attempted += 1
            a, k0 = time.time(), cpu_ticks()
            b = None
            try:
                df = q.fn(spark, table_dir)
                b = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                run.fail(f"{name}#pass{i}", f"{type(e).__name__}: {e}")
            c = time.time()
            run.latencies.append((c - a) * unstolen(k0))
            run.by_query[name].append(c - a)
            if run.tracer is not None:
                run.tracer.span(f"{module}.build", a, b or c)
                run.tracer.span(f"{module}.exec", b or c, c)

    run.warm_passes(one_pass, collector(spark))
    if pin:
        write_pins(scale, {n: digest(pdf) for n, pdf in results.items() if queries[n].oracle is None})
        return
    for name, reason in check_queries(results, queries, table_dir, scale).items():
        run.fail(f"{name}#answer", reason)


def write_pins(scale: str, new: dict[str, str]) -> None:
    from check import DIGESTS

    pins = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            pins = json.load(fh)
    pins.setdefault(scale, {}).update(new)
    with open(DIGESTS, "w") as fh:
        json.dump(pins, fh, indent=2, sort_keys=True)
        fh.write("\n")


def run_wordcount(spark, files: list[str], run: Run) -> int:
    """The reference's demo job through ``mr.runner.run_job`` on an INI spec;
    one pass is one job. Returns the bytes the last job wrote."""
    from check import check_wordcount, wordcount_oracle
    from mapreduce_infrastructure_spark.mr.runner import run_job

    out_dir = os.path.join(WORK, "mr-output")
    config = os.path.join(WORK, "wordcount.ini")
    with open(config, "w") as fh:
        fh.write(
            "n_workers=4\n"
            "worker_ipaddr_ports=localhost:50051,localhost:50052,localhost:50053,localhost:50054\n"
            f"input_files={','.join(files)}\n"
            f"output_dir={out_dir}\n"
            f"n_output_files={MR_OUTPUT_FILES}\n"
            f"map_kilobytes={MR_SPLIT_KB}\n"
            "user_id=cs6210\n"
        )
    expected = wordcount_oracle(files)
    outputs: list[str] = []

    def job(label: str) -> None:
        nonlocal outputs
        run.attempted += 1
        t0, k0 = time.perf_counter(), cpu_ticks()
        try:
            outputs = run_job(spark, config)
        except Exception as e:
            run.fail(label, f"{type(e).__name__}: {e}")
            outputs = []
        run.latencies.append((time.perf_counter() - t0) * unstolen(k0))

    def verify(label: str) -> None:
        fault = check_wordcount(outputs, MR_OUTPUT_FILES, expected)
        if fault and label not in run.failures:
            run.fail(label, fault)

    t0, k0 = time.perf_counter(), cpu_ticks()
    job("job#cold")
    run.warmup_s, run.warmup_share = time.perf_counter() - t0, unstolen(k0)
    run.latencies.clear()
    verify("job#cold")
    run.warm_passes(lambda i: job(f"job#pass{i}"), collector(spark))
    verify(f"job#pass{len(run.passes) - 1}")
    return sum(os.path.getsize(p) for p in outputs)


def selftest() -> int:
    """Tiny inputs: every query of the query workloads runs once with the
    tracer on, and ``catalog.load_table_calls`` must equal an independent
    count — calls of ``DataFrameReader.parquet`` on a fixture table file."""
    import data
    import layers

    table_dir = data.fixture("sf0.001")
    spark, queries, _ = start_spark(None)
    from pyspark.sql.readwriter import DataFrameReader

    fixture_files = {os.path.join(table_dir, f) for f in os.listdir(table_dir)}
    reads = []
    orig_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        reads.extend(p for p in paths if p in fixture_files)
        return orig_parquet(self, *paths, **options)

    DataFrameReader.parquet = parquet
    tracer = layers.Tracer()
    tracer.install()
    tracer.on = True
    ok = True
    for workload, names in WORKLOADS.items():
        for name in names:
            before_spans, before_reads = len(tracer.spans), len(reads)
            queries[name].fn(spark, table_dir).write.format("noop").mode("overwrite").save()
            traced = sum(s[0] == "catalog.load_table" for s in tracer.spans[before_spans:])
            independent = len(reads) - before_reads
            ok &= traced == independent
            print(json.dumps({"workload": workload, "query": name, "catalog.load_table_calls": traced, "parquet_reads": independent}))
    stop_spark(spark)
    print(json.dumps({"selftest": "pass" if ok else "FAIL", "rebound": tracer.rebound}))
    return 0 if ok else 1


def main() -> int:
    proc_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    if not (args.workload or args.selftest):
        ap.error("--workload is required")

    # The engine's Python workers (UDFs, mapPartitions, stream state
    # functions) import the package too, so they need the repository root on
    # their path, wherever the benchmark was launched from.
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Shuffle, spill and temporary files stay inside the checkout.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    # Every JVM (the launcher and Spark's own) keeps its temp files there too,
    # and writes no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if args.selftest:
        return selftest()

    # Inputs are generated (or reused) before the setup clock: setup_s
    # covers the process start plus Spark, registry and one trivial action.
    g0 = time.time()
    import data

    if args.workload == "mr_wordcount_job":
        files = data.corpus(WORK, args.seed)
    else:
        table_dir = data.fixture(SCALE)
    gen_s = time.time() - g0

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    ticks0 = cpu_ticks()
    spark, queries, setup_layers = start_spark(trace_dir)
    setup_wall_s = time.time() - proc_start - gen_s
    setup_share = unstolen(ticks0)
    try:
        tracer = None
        if args.trace:
            import layers

            tracer = layers.Tracer()
            tracer.install()
        run = Run(args.seconds, tracer)
        output_bytes = 0
        if args.workload == "mr_wordcount_job":
            output_bytes = run_wordcount(spark, files, run)
        else:
            run_queries(spark, queries, WORKLOADS[args.workload], table_dir, SCALE, run, pin=args.pin)
    finally:
        stop_spark(spark)

    metrics = {"setup_s": setup_wall_s * setup_share, **run.metrics()}
    if args.trace:
        log = layers.read_eventlog(trace_dir)
        shutil.rmtree(trace_dir, ignore_errors=True)
        layer = layers.layer_metrics(tracer, log, run.windows, nproc())
        layer.update(setup_layers)
        layer["mr.output_bytes"] = float(output_bytes)
        layer["trace.overhead_ratio"] = statistics.median(run.adjusted(True)) / metrics["pass_s"]
        report = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        report = {k: {"value": metrics[k], "unit": "s"} for k in E2E}

    failed = len(run.failures)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "error_rate": {"value": failed / run.attempted, "unit": "ratio"},
        "failures": run.failures,
        "wall_s": {"setup": setup_wall_s, "warmup": run.warmup_s, "passes": run.passes},
        "unstolen": {"setup": setup_share, "warmup": run.warmup_share, "passes": run.shares},
        "query_s": run.by_query,
        **host_stamp(ticks0),
    }))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed, "metrics": report}))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "ratio" if name.endswith("ratio") else "count"


if __name__ == "__main__":
    sys.exit(main())
