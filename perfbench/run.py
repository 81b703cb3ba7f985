"""The repo's benchmark: one workload per process, on local[nproc].

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

A closed loop with one client: one thread issues operations one after
another. Inputs are generated inside a work directory of the checkout
(``.perfbench_work/``, removed on exit); ``--seed`` generates the ETL
resources and fixes the order of the query-mix operations. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``; see perfbench/README.md and
BENCHMARK.json). Correctness checks run outside the timed window.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Without the engine's sources (a directory holding only the benchmark)
# these imports fail and the run exits non-zero before printing anything.
from gov_ec_pipeline_etl_spark.caching import unpersist_inputs  # noqa: E402
from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl  # noqa: E402
from gov_ec_pipeline_etl_spark.oracle import (  # noqa: E402
    compare,
    duckdb_connection,
    rewrite_shared_oracle,
)
from gov_ec_pipeline_etl_spark.plans import all_queries  # noqa: E402
from gov_ec_pipeline_etl_spark.plans.registry import oracle_text  # noqa: E402
from gov_ec_pipeline_etl_spark.session import DEFAULT_CONF, get_spark  # noqa: E402

from perfbench import gen, tracing  # noqa: E402

CONFIG = os.path.join(ROOT, "configs", "detenidos.yaml")
SF = 0.01
ETL_ROWS = 1_000  # rows per resource; two resources

# Read-side operations: light relational and text queries, one
# barrier-heavy dedup chain, and two real Structured Streaming replays.
QUERY_MIX = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
    "q14_range_join", "q20_topk_per_group", "x43_returned_items",
    "d01_exact_dedup", "u45_pii_scrub", "u46_line_dedup",
    "st01_tumbling_window_stream", "st03_streaming_dedup",
]
STREAMS = [n for n in QUERY_MIX if n.startswith(("st", "v0"))]
LEGS = ("first_load", "noop_rerun", "delta_rerun")

# Per-layer metrics of the traced run, with units. Every name is emitted
# on every workload; a layer the workload does not run reads 0.
PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"), ("session.setup_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("exec.wall_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    *[
        (f"q.{q}.{k}", u)
        for q in QUERY_MIX
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"))
    ],
    *[(f"streaming.{q}.runner_s", "s") for q in STREAMS],
    ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mem_mb", "MB"),
    ("streaming.state_commit_ms", "ms"), ("streaming.input_rows", "count"),
    ("streaming.late_rows_dropped", "count"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"),
    ("jvm.setup_gc_ms", "ms"), ("jvm.setup_jit_ms", "ms"),
    ("ingest.read_s", "s"), ("ingest.rows", "count"), ("state.s", "s"),
    ("contract.apply_s", "s"), ("contract.apply_jobs", "count"),
    ("contract.pack_extras_s", "s"), ("contract.load_s", "s"),
    ("upsert.merge_s", "s"), ("upsert.merge_jobs", "count"),
    ("upsert.rows_matched", "count"), ("upsert.rows_inserted", "count"),
    ("upsert.partitions_rewritten", "count"), ("upsert.bytes_written_mb", "MB"),
    ("upsert.write_amp", "ratio"), ("audit.s", "s"),
    ("etl.first_load_s", "s"), ("etl.delta_rerun_s", "s"),
    ("etl.noop_rerun_ms", "ms"), ("etl.noop_rerun_jobs", "count"),
    *[(f"etl.{leg}.layer_share", "ratio") for leg in LEGS],
    ("mem.peak_rss_mb", "MB"),
    ("trace.pass_s", "s"), ("trace.overhead_ratio", "ratio"),
]
END_TO_END: list[tuple[str, str]] = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s")]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quiesce(spark) -> None:
    """Between operations, outside the timed window: drop cached tables
    and run a JVM GC so one operation's garbage does not tax the next."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# --- workloads ----------------------------------------------------------


class QueryMix:
    """Registered queries and streams over fixed sf tables: one warm-up
    execution of each in set-up, then passes in a seed-fixed order until
    ``--seconds`` have elapsed. Every execution collects its result, and
    every collected result is checked against its oracle."""

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, f"sf{SF}")
        gen.make_tables(SF, self.sf_dir)
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)
        registry = all_queries()
        self.queries = {n: registry[n] for n in self.order}
        # results collected per phase ("warm-up", "pass1", ...), for check()
        self.collected: dict[str, dict[str, object]] = {}
        self.errors: dict[str, str] = {}
        self.timed: list[list[dict]] = []

    def warm_up(self, spark) -> None:
        got = self.collected.setdefault("warm-up", {})
        for name in self.order:
            try:
                got[name] = self.run_op(spark, name)["result"]
            except Exception as e:  # noqa: BLE001 — reported by check()
                self.errors.setdefault(name, f"warm-up: {type(e).__name__}: {e}")
        quiesce(spark)

    def run_op(self, spark, name: str, traced: bool = False) -> dict:
        """One operation: build the plan, run it and collect its result
        (at most 10,000 rows at this scale) for the oracle check."""
        q = self.queries[name]
        rec = {"op": name}
        t0 = time.perf_counter()
        if not traced:
            df = q.spark(spark, self.sf_dir)
            rec["result"] = df.toPandas()
            rec["wall_s"] = time.perf_counter() - t0
        else:
            with tracing.job_group(spark, f"build:{name}"):
                df = q.spark(spark, self.sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tracing.job_group(spark, f"exec:{name}"):
                rec["result"] = df.toPandas()
            t3 = time.perf_counter()
            rec.update(wall_s=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        rec["start_ms"], rec["end_ms"] = _epoch_ms(t0), _epoch_ms(time.perf_counter())
        unpersist_inputs(df)
        return rec

    def passes(self, spark, seconds: float, traced: bool = False) -> list[list[dict]]:
        out = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            recs = []
            got = self.collected.setdefault(f"pass{len(self.timed) + len(out) + 1}", {})
            for name in self.order:
                try:
                    recs.append(self.run_op(spark, name, traced))
                    got[name] = recs[-1].pop("result")
                except Exception as e:  # noqa: BLE001 — counted as a failed operation
                    self.errors[name] = f"{type(e).__name__}: {e}"
                    recs.append({"op": name, "failed": True, "wall_s": 0.0})
                quiesce(spark)
            out.append(recs)
        self.timed.extend(out)
        return out

    def check(self) -> dict[str, str]:
        """Oracle comparison of each operation's warm-up result and of
        its result in every timed pass; name -> failure."""
        bad = dict(self.errors)
        con = duckdb_connection(self.sf_dir)
        created: set[str] = set()
        try:
            for phase, results in self.collected.items():
                for name in [n for n in self.order if n in results]:
                    sql = rewrite_shared_oracle(
                        oracle_text(self.queries[name], self.sf_dir), con, created
                    )
                    ok, msg = compare(_Collected(results[name]), sql, self.sf_dir, con)
                    if not ok:
                        bad.setdefault(name, f"{phase}: {msg}")
        finally:
            con.close()
        return bad


class _Collected:
    """A result collected earlier, in the shape ``oracle.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class EtlCycle:
    """``run_etl`` cycles on fresh work dirs: first load of two
    resources, an unchanged rerun, then a rerun with one resource
    changed. Each cycle is measured from a cold JVM's point of view the
    way a scheduled batch load runs it; cycles repeat until
    ``--seconds`` have elapsed."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inputs = gen.make_etl_inputs(os.path.join(work, "etl_in"), seed, ETL_ROWS)
        self.cycles: list[dict] = []
        self.errors: dict[str, str] = {}

    def warm_up(self, spark) -> None:
        pass  # the first cycle's cold start is what a batch load pays

    def run_cycle(self, spark, k: int, on_leg=None) -> dict:
        wd = os.path.join(self.work, f"cycle{k}")
        shutil.rmtree(wd, ignore_errors=True)
        cycle = {"work_dir": wd, "walls": {}, "results": {}}
        plan = [
            ("first_load", self.inputs["resources"]),
            ("noop_rerun", self.inputs["resources"]),
            ("delta_rerun", self.inputs["changed"]),
        ]
        for leg, resources in plan:
            if on_leg:
                on_leg(leg, "start")
            t0 = time.perf_counter()
            try:
                cycle["results"][leg] = run_etl(spark, CONFIG, resources, wd)
            except Exception as e:  # noqa: BLE001 — counted as a failed operation
                self.errors[f"cycle{k}.{leg}"] = f"{type(e).__name__}: {e}"
                cycle["results"][leg] = None
            cycle["walls"][leg] = time.perf_counter() - t0
            if on_leg:
                on_leg(leg, "end")
            quiesce(spark)
        return cycle

    def passes(self, spark, seconds: float, on_leg=None) -> list[dict]:
        t0 = time.perf_counter()
        while not self.cycles or time.perf_counter() - t0 < seconds:
            self.cycles.append(self.run_cycle(spark, len(self.cycles), on_leg))
        return self.cycles

    def check(self) -> dict[str, str]:
        import duckdb

        bad = dict(self.errors)
        inp = self.inputs
        con = duckdb.connect()
        try:
            files = ", ".join(f"'{p}'" for p in inp["key_files"])
            n_keys = con.execute(
                'SELECT count(*) FROM (SELECT DISTINCT "Código ICCS", '
                '"Fecha Detención Aprehensión", "Código Provincia", "Código Cantón" '
                f"FROM read_csv([{files}], header=true, all_varchar=true, union_by_name=true))"
            ).fetchone()[0]
            for k, cyc in enumerate(self.cycles):
                res = cyc["results"]
                not_ok = [leg for leg in LEGS if res[leg] is None or res[leg].status != "ok"]
                for leg in not_ok:
                    bad.setdefault(f"cycle{k}.{leg}", "leg did not finish with status ok")
                if not_ok:
                    continue
                if sorted(res["noop_rerun"].skipped_unchanged) != ["a", "b"] or res[
                    "noop_rerun"
                ].upsert_metrics:
                    bad[f"cycle{k}.noop_rerun"] = "unchanged rerun processed a resource"
                m = res["delta_rerun"].upsert_metrics.get("a", {})
                want = {"rows_matched": inp["n_rows_a"], "rows_inserted": inp["n_new"]}
                got = {k2: m.get(k2) for k2 in want}
                if got != want or sorted(res["delta_rerun"].upsert_metrics) != ["a"]:
                    bad[f"cycle{k}.delta_rerun"] = f"upsert metrics {got} != {want}"
                snap = _snapshot_glob(cyc["work_dir"])
                n_rows, n_edited = con.execute(
                    f"SELECT count(*), count(*) FILTER (WHERE edad = {gen.EDITED_AGE}) "
                    f"FROM read_parquet('{snap}', hive_partitioning=true)"
                ).fetchone()
                if (n_rows, n_edited) != (n_keys, inp["n_edited"]):
                    bad[f"cycle{k}.delta_rerun.table"] = (
                        f"table rows/edited {n_rows}/{n_edited} != keys/edits "
                        f"{n_keys}/{inp['n_edited']}"
                    )
        finally:
            con.close()
        return bad


def _snapshot_dir(work_dir: str) -> str:
    table = os.path.join(work_dir, "table", "detenidos_aprehendidos")
    with open(os.path.join(table, "_CURRENT")) as f:
        return os.path.join(table, json.load(f)["snapshot"])


def _snapshot_glob(work_dir: str) -> str:
    return os.path.join(_snapshot_dir(work_dir), "*", "*.parquet")


def _epoch_ms(perf: float) -> float:
    """A ``perf_counter`` reading as epoch milliseconds (the event log's
    clock)."""
    return (time.time() - (time.perf_counter() - perf)) * 1e3


WORKLOADS = {"query_mix": QueryMix, "etl_cycle": EtlCycle}

# --- traced run -----------------------------------------------------------


def traced_query_mix(spark, wl: QueryMix, seconds: float, gen_s: float) -> dict:
    """Set-up as in the untraced run, then untraced and traced passes in
    turn, at least one of each, until ``seconds`` have elapsed; the ratio
    of their medians is the tracing overhead. Spark jobs and stream
    batches are attributed to the traced passes by time."""
    listener = tracing.make_stream_listener()
    spark.streams.addListener(listener)
    wl.warm_up(spark)
    raw = {"kind": "query_mix", "setup_s": time.perf_counter() - T_START - gen_s}
    raw["jvm_setup"] = tracing.jvm_counters(spark)
    raw.update(plain=[], traced=[], windows=[], jvm={"gc_ms": 0.0, "jit_ms": 0.0})
    t0 = time.perf_counter()
    while not raw["traced"] or time.perf_counter() - t0 < seconds:
        raw["plain"] += wl.passes(spark, 0)
        jvm0, lo = tracing.jvm_counters(spark), _epoch_ms(time.perf_counter())
        raw["traced"] += wl.passes(spark, 0, traced=True)
        jvm1, hi = tracing.jvm_counters(spark), _epoch_ms(time.perf_counter())
        raw["windows"].append((lo, hi))
        for k in jvm0:
            raw["jvm"][k] += jvm1[k] - jvm0[k]
    time.sleep(1.0)  # listener events arrive asynchronously
    spark.streams.removeListener(listener)
    raw["progress"] = [
        p for p in listener.progress if any(lo <= p["ts_ms"] <= hi for lo, hi in raw["windows"])
    ]
    return raw


def traced_etl(spark, wl: EtlCycle, seconds: float, gen_s: float) -> dict:
    """Cycles as in the untraced run with every layer call timed and run
    under its layer's job group."""

    def upsert_bytes(args, _out):
        return tracing.new_bytes_mb(_snapshot_dir(os.path.dirname(os.path.dirname(args[2]))))

    spans = tracing.LayerSpans(spark, after={"upsert_parquet": upsert_bytes})
    raw = {"kind": "etl_cycle", "setup_s": time.perf_counter() - T_START - gen_s}
    raw["jvm_setup"] = tracing.jvm_counters(spark)
    legs: list[dict] = []

    def on_leg(leg: str, phase: str) -> None:
        if phase == "start":
            spans.reset()
            legs.append({"leg": leg, "start_ms": _epoch_ms(time.perf_counter())})
        else:
            legs[-1].update(
                end_ms=_epoch_ms(time.perf_counter()),
                walls=dict(spans.walls),
                calls=list(spans.calls),
            )

    jvm0 = tracing.jvm_counters(spark)
    spans.install()
    try:
        wl.passes(spark, seconds, on_leg)
    finally:
        spans.uninstall()
    jvm1 = tracing.jvm_counters(spark)
    raw["jvm"] = {k: jvm1[k] - jvm0[k] for k in jvm0}
    raw["legs"] = legs
    raw["cycles"] = wl.cycles
    # instrumentation cost: a wrapped call that does nothing, timed
    probe = spans.wrap("probe", "noop", lambda: None)
    t0 = time.perf_counter()
    for _ in range(100):
        probe()
    raw["per_call_s"] = (time.perf_counter() - t0) / 100
    return raw


def _per_pass(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(raw: dict, jobs: list[dict], session_s: float) -> dict:
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["mem.peak_rss_mb"] = raw["peak_rss_mb"]
    m["session.start_s"] = session_s
    m["session.setup_s"] = raw["setup_s"]
    m["jvm.setup_gc_ms"] = raw["jvm_setup"]["gc_ms"]
    m["jvm.setup_jit_ms"] = raw["jvm_setup"]["jit_ms"]
    if raw["kind"] == "query_mix":
        _query_mix_layers(m, raw, jobs)
    else:
        _etl_layers(m, raw, jobs)
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}


def _query_mix_layers(m: dict, raw: dict, jobs: list[dict]) -> None:
    traced = raw["traced"]
    n = len(traced)
    recs = [r for p in traced for r in p if not r.get("failed")]
    window = [j for j in jobs if any(lo <= j["submit_ms"] <= hi for lo, hi in raw["windows"])]

    def owner(job: dict) -> str | None:
        g = job["group"] or ""
        if g.startswith(("build:", "exec:")):
            return g.split(":", 1)[1]
        # stream micro-batches run under the stream's own run id
        for r in recs:
            if r["start_ms"] <= job["submit_ms"] <= r["end_ms"]:
                return r["op"]
        return None

    by_op: dict[str, list[dict]] = {}
    for j in window:
        by_op.setdefault(owner(j), []).append(j)
    build_jobs = [j for j in window if (j["group"] or "").startswith("build:")]
    m["plans.build_s"] = median([sum(r.get("build_s", 0) for r in p) for p in traced])
    m["plans.build_jobs"] = _per_pass(len(build_jobs), n)
    m["catalyst.plan_s"] = median([sum(r.get("plan_s", 0) for r in p) for p in traced])
    for k, v in tracing.summarize_jobs(window).items():
        m[f"exec.{k}"] = _per_pass(v, n)
    for name in QUERY_MIX:
        own = [r for r in recs if r["op"] == name]
        op_jobs = tracing.summarize_jobs(by_op.get(name, []))
        m[f"q.{name}.build_s"] = median([r["build_s"] for r in own])
        m[f"q.{name}.exec_s"] = median([r["exec_s"] for r in own])
        m[f"q.{name}.jobs"] = _per_pass(op_jobs["jobs"], n)
        m[f"q.{name}.shuffle_mb"] = _per_pass(op_jobs["shuffle_write_mb"], n)
    for name in STREAMS:
        m[f"streaming.{name}.runner_s"] = m[f"q.{name}.build_s"]
    for k, v in tracing.stream_summary(raw["progress"]).items():
        m[f"streaming.{k}"] = v if k == "batch_p50_ms" else _per_pass(v, n)
    for k, v in raw["jvm"].items():
        m[f"jvm.{k}"] = _per_pass(v, n)
    plain = median([sum(r["wall_s"] for r in p) for p in raw["plain"]])
    traced_pass = median([sum(r["wall_s"] for r in p) for p in traced])
    m["trace.pass_s"] = traced_pass
    m["trace.overhead_ratio"] = traced_pass / plain if plain else 0.0


def _etl_layers(m: dict, raw: dict, jobs: list[dict]) -> None:
    """Totals over the traced cycles, per cycle."""
    n = len(raw["cycles"])
    legs = raw["legs"]
    layer = {}
    for leg in legs:
        for key, secs in leg["walls"].items():
            layer[key] = layer.get(key, 0.0) + secs

    def walls(prefix: str) -> float:
        return sum(v for k, v in layer.items() if k.startswith(prefix + "."))

    calls = [c for leg in legs for c in leg["calls"]]
    upserts = [c for c in calls if c[1] == "upsert_parquet"]
    results = [r for c in raw["cycles"] for r in c["results"].values() if r is not None]
    merge_metrics = [mm for r in results for mm in r.upsert_metrics.values()]
    read_paths = [c[2][1] for c in calls if c[0] == "ingest"]
    in_mb = sum(os.path.getsize(p) for p in read_paths) / tracing.MB
    written_mb = sum(c[3] for c in upserts)

    def group_jobs(layer_name: str) -> list[dict]:
        return [j for j in jobs if j["group"] == f"etl:{layer_name}"]

    m["ingest.read_s"] = _per_pass(walls("ingest"), n)
    m["ingest.rows"] = _per_pass(sum(r.reports[k]["rows_in"] for r in results for k in r.reports), n)
    m["state.s"] = _per_pass(walls("state"), n)
    m["contract.apply_s"] = _per_pass(layer.get("contract.apply", 0.0), n)
    m["contract.pack_extras_s"] = _per_pass(layer.get("contract.pack_extras", 0.0), n)
    m["contract.load_s"] = _per_pass(
        layer.get("contract.load_config", 0.0) + layer.get("contract.from_dict", 0.0), n
    )
    m["contract.apply_jobs"] = _per_pass(len(group_jobs("contract")), n)
    m["upsert.merge_s"] = _per_pass(walls("upsert"), n)
    m["upsert.merge_jobs"] = _per_pass(len(group_jobs("upsert")), n)
    for k in ("rows_matched", "rows_inserted", "partitions_rewritten"):
        m[f"upsert.{k}"] = _per_pass(sum(mm.get(k, 0) for mm in merge_metrics), n)
    m["upsert.bytes_written_mb"] = _per_pass(written_mb, n)
    m["upsert.write_amp"] = written_mb / in_mb if in_mb else 0.0
    m["audit.s"] = _per_pass(walls("audit"), n)
    cycle_jobs = [j for j in jobs if any(l["start_ms"] <= j["submit_ms"] <= l["end_ms"] for l in legs)]
    for k, v in tracing.summarize_jobs(cycle_jobs).items():
        m[f"exec.{k}"] = _per_pass(v, n)
    for leg_name in LEGS:
        mine = [leg for leg in legs if leg["leg"] == leg_name]
        wall = median([(leg["end_ms"] - leg["start_ms"]) / 1e3 for leg in mine])
        covered = median([
            sum(leg["walls"].values()) / ((leg["end_ms"] - leg["start_ms"]) / 1e3) for leg in mine
        ])
        m[f"etl.{leg_name}.layer_share"] = covered
        if leg_name == "noop_rerun":
            m["etl.noop_rerun_ms"] = wall * 1e3
            m["etl.noop_rerun_jobs"] = _per_pass(
                sum(1 for leg in mine for j in jobs if leg["start_ms"] <= j["submit_ms"] <= leg["end_ms"]), n
            )
        else:
            m[f"etl.{leg_name}_s"] = wall
    for k, v in raw["jvm"].items():
        m[f"jvm.{k}"] = _per_pass(v, n)
    cycle_s = median([sum(c["walls"].values()) for c in raw["cycles"]])
    m["trace.pass_s"] = cycle_s
    cost = _per_pass(len(calls), n) * raw["per_call_s"]
    m["trace.overhead_ratio"] = cycle_s / (cycle_s - cost) if cycle_s > cost else 0.0


# --- metrics -------------------------------------------------------------


def end_to_end(workload: str, setup_s: float, runs) -> dict:
    if workload == "etl_cycle":
        pass_walls = [sum(c["walls"].values()) for c in runs]
        op_walls = [w for c in runs for w in c["walls"].values()]
    else:
        pass_walls = [sum(r["wall_s"] for r in p) for p in runs]
        op_walls = [r["wall_s"] for p in runs for r in p if not r.get("failed")]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(pass_walls), "s"),
        "query_p50_s": (median(op_walls), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        result, host = run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    # the host record goes on its own line; the last line is the result
    print("host " + json.dumps(host), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str, tmp: str) -> tuple[dict, dict]:
    cpus = nproc()
    # run hygiene: Python workers import the engine from this checkout;
    # every temp and spill file stays in this run's own directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DUCKDB_MEM"] = "1GB"
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp

    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    gen_s = time.perf_counter() - t_gen

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(tracing.event_log_conf(log_dir))
    t_session = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_session
    jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else None
    try:
        if args.trace:
            raw = (traced_etl if isinstance(wl, EtlCycle) else traced_query_mix)(
                spark, wl, args.seconds, gen_s
            )
            raw["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        else:
            wl.warm_up(spark)
            setup_s = time.perf_counter() - T_START - gen_s
            runs = wl.passes(spark, args.seconds)
    finally:
        stop_spark(spark)
    failures = wl.check()
    attempted, failed = count_ops(wl, failures)
    if args.trace:
        jobs = tracing.parse_event_log(tracing.find_event_log(log_dir))
        metrics = per_layer(raw, jobs, session_s)
    else:
        metrics = end_to_end(args.workload, setup_s, runs)
    for name, msg in sorted(failures.items()):
        print(f"FAILED {name}: {msg}", file=sys.stderr)
    host = {
        "commit": _commit(),
        "cores": cpus,
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "jvm_heap": DEFAULT_CONF["spark.driver.memory"],
        "sf": SF,
        "etl_rows_per_resource": ETL_ROWS,
        "session_s": round(session_s, 3),
        "inputs_s": round(gen_s, 3),
    }
    return result_line(not failures, attempted, failed, metrics), host


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    """The last stdout line: exactly these four keys."""
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def count_ops(wl, failures: dict[str, str]) -> tuple[int, int]:
    """Operations attempted in the timed window, and how many of them
    raised or belong to an operation whose output check failed."""
    if isinstance(wl, EtlCycle):
        legs = [f"cycle{k}.{leg}" for k in range(len(wl.cycles)) for leg in LEGS]
        failed_legs = {".".join(f.split(".")[:2]) for f in failures}
        return len(legs), sum(1 for leg in legs if leg in failed_legs)
    recs = [r for p in wl.timed for r in p]
    return len(recs), sum(1 for r in recs if r.get("failed") or r["op"] in failures)


def _commit() -> str:
    """The checkout's commit when it is a git repository, else unknown."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
