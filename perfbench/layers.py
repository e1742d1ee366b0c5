"""Per-layer measurement of the engine, taken from outside it.

Nothing here edits engine code. Layers are measured three ways:

- wrapping a layer's public functions (``catalog.load_table``, the
  ``llm.cache`` session caches, ``jobspec`` and ``mr.runner`` entry points)
  in every module that binds them — the defining module and each module-level
  ``from ... import`` binding, aliases included;
- spans around each query's build (``Query.fn``) and execute (the action);
- Spark's own event log, read after the session stops: jobs, stages, task
  metrics, Python-worker byte counters and streaming progress. Jobs are
  attributed to a span by their submission time, because stream jobs run on
  other threads and carry no job group.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import Counter, defaultdict

PKG = "mapreduce_infrastructure_spark"

# Query-defining modules of the workloads in BENCHMARK.json
# (``Query.fn.__module__`` without the package prefix). Every traced run
# reports all of them, 0 where unused, plus any other module it ran.
QUERY_MODULES = ("llm.dedup", "llm.similarity", "llm.text", "streaming.stream")

# (defining module, function, span label) — timed wherever they are bound.
TIMED = (
    ("catalog", "load_table", "catalog.load_table"),
    ("jobspec", "read_and_validate_spec", "jobspec.read_and_validate_spec"),
    ("mr.runner", "run_mr_job", "mr.run_mr_job"),
    ("mr.runner", "write_sorted_text", "mr.write_sorted_text"),
)

# Spark SQL metric names of the Arrow/Python UDF boundary (PythonSQLMetrics).
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


class Tracer:
    """Collects spans (label, start, end in epoch seconds) and call counts
    while ``on`` is set; wrapped functions pass straight through otherwise."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[tuple[str, float, float]] = []
        self.counts: Counter = Counter()
        self.rebound: dict[str, int] = {}

    def span(self, label: str, t0: float, t1: float) -> None:
        if self.on:
            self.spans.append((label, t0, t1))

    def _timed(self, label, orig):
        def wrapper(*args, **kwargs):
            if not self.on:
                return orig(*args, **kwargs)
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                self.spans.append((label, t0, time.time()))

        return wrapper

    def _cached(self, label, orig):
        """Get-or-create caches take a ``build`` callback (second positional
        argument): a call that never invokes it was a hit."""

        def wrapper(*args, **kwargs):
            if not self.on:
                return orig(*args, **kwargs)
            built = []

            def build(_inner=args[1] if len(args) > 1 else kwargs["build"]):
                built.append(True)
                return _inner()

            if len(args) > 1:
                args = (args[0], build, *args[2:])
            else:
                kwargs["build"] = build
            out = orig(*args, **kwargs)
            self.counts[label + "_calls"] += 1
            self.counts[label + "_hits"] += not built
            return out

        return wrapper

    def _counted(self, label, orig):
        def wrapper(*args, **kwargs):
            if self.on:
                self.counts[label + "_calls"] += 1
            return orig(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every layer entry point in every module that binds it. Call
        after ``registry.all_queries()`` has imported the query modules;
        functions imported lazily inside other functions resolve through the
        defining module, which is patched too."""
        targets = [(mod, fn, self._timed, label) for mod, fn, label in TIMED]
        targets += [
            ("llm.cache", "tracked_persist", self._counted, "llm.cache.tracked_persist"),
            ("llm.cache", "shared_persist", self._cached, "llm.cache.shared_persist"),
            ("llm.cache", "shared_value", self._cached, "llm.cache.shared_value"),
        ]
        for mod, fn, kind, label in targets:
            self.rebound[label] = rebind(f"{PKG}.{mod}", fn, kind(label, getattr(sys.modules[f"{PKG}.{mod}"], fn)))


def rebind(module: str, name: str, new) -> int:
    """Replace ``module.name`` by ``new`` in every loaded engine module that
    holds the same object, under any alias. Returns the number of bindings."""
    orig = getattr(sys.modules[module], name)
    n = 0
    for m in list(sys.modules.values()):
        if not getattr(m, "__name__", "").startswith(PKG):
            continue
        for attr, value in list(vars(m).items()):
            if value is orig:
                setattr(m, attr, new)
                n += 1
    return n


def read_eventlog(log_dir: str) -> dict:
    """Jobs, tasks and streaming progress from the event log files in
    ``log_dir`` (complete once the SparkContext has stopped)."""
    jobs: dict[int, float] = {}  # job id -> submission time (epoch s)
    stage_job: dict[int, int] = {}
    stages: list[tuple[int, int]] = []  # (job id, stage id) that completed
    tasks: list[dict] = []
    progress: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.append((stage_job.get(sid, -1), sid))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind == _PROGRESS:
                    progress.append(ev["progress"])
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages, "tasks": tasks, "progress": progress}


def _within(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", [])}
    duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
    run = m.get("Executor Run Time", 0) / 1000.0
    overhead = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    ) / 1000.0
    return {
        "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
        "run_s": run,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "scheduler_delay_s": max(0.0, duration - run - overhead),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_records": sw.get("Shuffle Records Written", 0),
        "python_bytes_sent": int(acc.get(_PY_SENT, 0) or 0),
        "python_bytes_received": int(acc.get(_PY_RECV, 0) or 0),
    }


def layer_metrics(
    tracer: Tracer,
    log: dict,
    passes: list[tuple[float, float]],
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics, averaged over the traced passes ``passes``
    (epoch-second windows). Counts are per pass, so runs with different
    pass counts compare."""
    n = max(len(passes), 1)
    spans = defaultdict(list)
    for label, t0, t1 in tracer.spans:
        spans[label].append((t0, t1))
    job_ids = [j for j, t in log["jobs"].items() if _within(t, passes)]
    job_set = set(job_ids)

    def jobs_in(label: str) -> int:
        return sum(_within(log["jobs"][j], spans[label]) for j in job_ids)

    def secs(label: str) -> float:
        return sum(b - a for a, b in spans[label]) / n

    out: dict[str, float] = {
        "catalog.load_table_calls": len(spans["catalog.load_table"]) / n,
        "catalog.load_table_s": secs("catalog.load_table"),
        "catalog.load_table_jobs": jobs_in("catalog.load_table") / n,
    }
    ran = {label.rsplit(".", 1)[0] for label in spans if label.endswith(".build")}
    for mod in sorted(set(QUERY_MODULES) | ran):
        out[f"{mod}.build_s"] = secs(f"{mod}.build")
        out[f"{mod}.build_jobs"] = jobs_in(f"{mod}.build") / n
        out[f"{mod}.exec_s"] = secs(f"{mod}.exec")

    stage_job = log["stage_job"]
    rows = [_task_row(ev) for ev in log["tasks"] if stage_job.get(ev["Stage ID"]) in job_set]
    total = Counter()
    for r in rows:
        total.update({k: v for k, v in r.items() if k != "failed"})
    wall = sum(b - a for a, b in passes)
    out.update({
        "exec.jobs": len(job_ids) / n,
        "exec.stages": sum(j in job_set for j, _ in log["stages"]) / n,
        "exec.tasks": len(rows) / n,
        "exec.failed_tasks": sum(r["failed"] for r in rows) / n,
    })
    for key in (
        "run_s", "cpu_s", "gc_s", "scheduler_delay_s", "input_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
        "spill_bytes", "python_bytes_sent", "python_bytes_received",
    ):
        out[f"exec.{key}"] = total[key] / n
    out["exec.slot_busy_ratio"] = total["run_s"] / (wall * cores) if wall else 0.0

    c = tracer.counts
    persist_calls = c["llm.cache.tracked_persist_calls"] + c["llm.cache.shared_persist_calls"]
    value_calls = c["llm.cache.shared_value_calls"]
    out.update({
        "llm.cache.persist_calls": persist_calls / n,
        "llm.cache.persist_hit_ratio": c["llm.cache.shared_persist_hits"] / persist_calls if persist_calls else 0.0,
        "llm.cache.value_calls": value_calls / n,
        "llm.cache.value_hit_ratio": c["llm.cache.shared_value_hits"] / value_calls if value_calls else 0.0,
    })

    prog = [p for p in log["progress"] if _within(_iso_epoch(p["timestamp"]), passes)]
    dur = Counter()
    for p in prog:
        dur.update(p.get("durationMs", {}))
    state_ops = [op for p in prog for op in p.get("stateOperators", [])]
    last_rows = {}
    for p in prog:  # state size at each query run's last batch
        last_rows[p["runId"]] = sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
    stream_wall = secs("streaming.stream.build") + secs("streaming.stream.exec")
    out.update({
        "streaming.queries": len({p["runId"] for p in prog}) / n,
        "streaming.batches": len(prog) / n,
        "streaming.trigger_ms": dur["triggerExecution"] / n,
        "streaming.add_batch_ms": dur["addBatch"] / n,
        "streaming.query_planning_ms": dur["queryPlanning"] / n,
        "streaming.wal_commit_ms": dur["walCommit"] / n,
        "streaming.commit_offsets_ms": dur["commitOffsets"] / n,
        "streaming.state_commit_ms": sum(op.get("commitTimeMs", 0) for op in state_ops) / n,
        "streaming.state_rows": sum(last_rows.values()) / n,
        "streaming.bridge_overhead_s": stream_wall - dur["triggerExecution"] / 1000.0 / n if prog else 0.0,
    })

    mr_jobs = set(j for j in job_ids if _within(log["jobs"][j], spans["mr.run_mr_job"] + spans["mr.write_sorted_text"]))
    out.update({
        "jobspec.read_and_validate_spec_s": secs("jobspec.read_and_validate_spec"),
        "mr.run_mr_job_s": secs("mr.run_mr_job"),
        "mr.write_sorted_text_s": secs("mr.write_sorted_text"),
        "mr.shuffle_records": sum(
            _task_row(ev)["shuffle_records"] for ev in log["tasks"] if stage_job.get(ev["Stage ID"]) in mr_jobs
        ) / n,
    })
    return out


def _iso_epoch(ts: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, ``...Z``)."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
