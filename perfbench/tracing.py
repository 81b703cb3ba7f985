"""Trace collectors for the benchmark's traced run (``--trace 1``).

Nothing here is imported into the engine: every number is taken from
outside, by timing calls into each layer's public functions and by
reading Spark's own counters.

- ``parse_event_log``: Spark's JSON event log (written uncompressed and
  unrolled), parsed with the stdlib into one record per job.
- ``jvm_counters``: cumulative GC and JIT milliseconds from the JVM's
  MXBeans over py4j.
- ``make_stream_listener``: a ``StreamingQueryListener`` that keeps
  every micro-batch's progress.
- ``LayerSpans``: wraps the names ``etl_pipeline`` imports so each call
  is timed and its Spark jobs run under the layer's job group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
GROUP_PROP = "spark.jobGroup.id"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a plain-JSON event log (Spark 4 otherwise rolls
    and zstd-compresses it)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(path: str) -> list[dict]:
    """One record per job: ``group``, ``submit_ms``, ``end_ms``,
    ``stages``, ``tasks``, shuffle/spill bytes and task run/CPU time."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = {
                    "group": (ev.get("Properties") or {}).get(GROUP_PROP),
                    "submit_ms": ev.get("Submission Time", 0),
                    "end_ms": None,
                    "stages": 0, "tasks": 0, "shuffle_write": 0,
                    "shuffle_read": 0, "spill": 0, "run_ms": 0, "cpu_ns": 0,
                }
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                job["run_ms"] += tm.get("Executor Run Time", 0)
                job["cpu_ns"] += tm.get("Executor CPU Time", 0)
                job["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
    return [j for _, j in sorted(jobs.items())]


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])


def summarize_jobs(jobs: list[dict]) -> dict[str, float]:
    """``exec.*`` totals over a set of job records."""
    return {
        "wall_s": sum((j["end_ms"] or j["submit_ms"]) - j["submit_ms"] for j in jobs) / 1e3,
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "spill_mb": sum(j["spill"] for j in jobs) / MB,
        "task_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
    }


def new_bytes_mb(root: str) -> float:
    """Megabytes of the files under ``root`` with one link: written by
    the last merge, not hard-linked from an earlier snapshot."""
    total = 0
    for d, _, files in os.walk(root):
        for n in files:
            st = os.stat(os.path.join(d, n))
            if st.st_nlink == 1:
                total += st.st_size
    return total / MB


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JVM GC and JIT-compilation milliseconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_ms": float(gc), "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime())}


@contextmanager
def job_group(spark, group: str):
    """Run the body's Spark jobs under job group ``group``, restoring
    the caller's group afterwards."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(GROUP_PROP)
    sc.setLocalProperty(GROUP_PROP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP_PROP, prev)


def make_stream_listener():
    """A ``StreamingQueryListener`` keeping every batch's progress as a
    plain dict (built lazily: the class needs pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "run_id": str(p.runId),
                "ts_ms": _iso_ms(p.timestamp),
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "durations": dict(p.durationMs or {}),
                "state": [
                    {
                        "rows": s.numRowsTotal,
                        "mem": s.memoryUsedBytes,
                        "commit_ms": s.commitTimeMs,
                        "dropped": s.numRowsDroppedByWatermark,
                    }
                    for s in p.stateOperators
                ],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamStats()


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def stream_summary(progress: list[dict]) -> dict[str, float]:
    """``streaming.*`` totals over a list of batch progress records.
    State rows/memory are the final batch's per query (the store's
    size when the query ends), summed over queries."""
    last_state: dict[str, list[dict]] = {}
    for p in progress:
        last_state[p["run_id"]] = p["state"]
    trig = [p["durations"].get("triggerExecution", 0) for p in progress]
    return {
        "batches": len(progress),
        "batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "add_batch_ms": sum(p["durations"].get("addBatch", 0) for p in progress),
        "wal_commit_ms": sum(p["durations"].get("walCommit", 0) for p in progress),
        "input_rows": sum(p["input_rows"] for p in progress),
        "state_commit_ms": sum(s["commit_ms"] for p in progress for s in p["state"]),
        "late_rows_dropped": sum(s["dropped"] for p in progress for s in p["state"]),
        "state_rows": sum(s["rows"] for st in last_state.values() for s in st),
        "state_mem_mb": sum(s["mem"] for st in last_state.values() for s in st) / MB,
    }


class LayerSpans:
    """Times every call into the ETL layers ``run_etl`` uses and runs
    each call's Spark jobs under job group ``etl:<layer>``.

    ``install`` replaces the names in ``etl_pipeline``'s namespace (and
    the contract/audit methods on their classes); ``uninstall`` puts the
    originals back. ``walls`` holds seconds per ``layer.name`` and
    ``calls`` every call since ``reset``."""

    LAYERS = {
        "ingest": ["read_csv_resource", "read_excel_resource"],
        "state": ["load_state", "diff_resources", "save_state", "update_state"],
        "upsert": ["upsert_parquet"],
        "contract": ["load_config"],
    }
    METHODS = [
        ("contract", "ContractPipeline", ["apply", "pack_extras"]),
        ("contract", "Contract", ["from_dict"]),
        ("audit", "AuditLedger", ["open_run", "record_resource", "close_run"]),
    ]

    def __init__(self, spark, after=None):
        """``after[name](args, result)`` runs after each timed call of
        ``name``; what it returns is kept with the call."""
        self.spark = spark
        self.after = after or {}
        self.walls: dict[str, float] = defaultdict(float)
        self.calls: list[tuple[str, str, tuple, object]] = []  # layer, name, args, extra
        self._saved: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.walls.clear()
        self.calls.clear()

    def wrap(self, layer: str, name: str, fn):
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            with job_group(self.spark, f"etl:{layer}"):
                try:
                    out = fn(*args, **kwargs)
                finally:
                    self.walls[f"{layer}.{name}"] += time.perf_counter() - t0
            extra = self.after[name](args, out) if name in self.after else None
            self.calls.append((layer, name, args, extra))
            return out

        return traced

    def _patch(self, owner, attr: str, layer: str) -> None:
        # keep the raw attribute (a classmethod stays a classmethod) and
        # wrap what a call through ``owner`` reaches
        self._saved.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, self.wrap(layer, attr, getattr(owner, attr)))

    def install(self) -> None:
        from gov_ec_pipeline_etl_spark import etl_pipeline

        for layer, names in self.LAYERS.items():
            for name in names:
                self._patch(etl_pipeline, name, layer)
        for layer, cls, methods in self.METHODS:
            for m in methods:
                self._patch(getattr(etl_pipeline, cls), m, layer)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
