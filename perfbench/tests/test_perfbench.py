"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, run, tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digests(d: str) -> dict[str, str]:
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_etl_inputs_are_byte_identical_per_seed(tmp_path):
    a = gen.make_etl_inputs(str(tmp_path / "a"), 7, 300)
    b = gen.make_etl_inputs(str(tmp_path / "b"), 7, 300)
    c = gen.make_etl_inputs(str(tmp_path / "c"), 8, 300)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    assert _digests(str(tmp_path / "a")) != _digests(str(tmp_path / "c"))
    assert (a["n_edited"], a["n_new"]) == (b["n_edited"], b["n_new"]) == (30, 15)


def test_tables_are_byte_identical_across_runs(tmp_path):
    gen.make_tables(0.001, str(tmp_path / "a"))
    gen.make_tables(0.001, str(tmp_path / "b"))
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_etl_inputs_shape(tmp_path):
    """Raw Spanish headers, one undeclared column, a two-data-sheet XLSX
    with a skipped contents sheet, distinct business keys, and the
    changed resource = old rows (some edited) + new rows."""
    import csv

    from gov_ec_pipeline_etl_spark.sources import xlsx_lite

    m = gen.make_etl_inputs(str(tmp_path), 1, 200)
    paths = {r["id"]: r["path"] for r in m["resources"]}
    with open(paths["a"], encoding="utf-8") as f:
        header = next(csv.reader(f))
    assert "Código ICCS" in header and "Fecha Detención Aprehensión" in header
    assert header[-1] == gen.EXTRA_HEADER
    assert xlsx_lite.sheet_names(paths["b"]) == ["Contenido", "1", "2"]
    assert len(xlsx_lite.read_sheet(paths["b"], "1")) == 100

    keys = set()
    n = 0
    for p in m["key_files"]:
        with open(p, encoding="utf-8") as f:
            for row in csv.DictReader(f):
                n += 1
                keys.add(tuple(row[h] for h in gen.HEADERS[:2]) + (row["Código Provincia"], row["Código Cantón"]))
                assert row["Presunta Infracción"] and row["Nombre Provincia"]
    assert len(keys) == n == 2 * 200 + m["n_new"]

    changed = {r["id"]: r["path"] for r in m["changed"]}
    with open(changed["a"], encoding="utf-8") as f:
        ages = [row["Edad"] for row in csv.DictReader(f)]
    assert len(ages) == m["n_rows_a"] + m["n_new"]
    assert ages.count(str(gen.EDITED_AGE)) == m["n_edited"]


FIXTURE_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "exec:q01"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 40, "Executor CPU Time": 30_000_000,
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1024 * 1024,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 1024 * 1024},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 60, "Executor CPU Time": 50_000_000,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2 * 1024 * 1024}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 5}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2250},
]


def test_event_log_parser(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in FIXTURE_LOG))
    assert tracing.find_event_log(str(tmp_path)) == str(log)
    jobs = tracing.parse_event_log(str(log))
    assert [j["group"] for j in jobs] == ["exec:q01", None]
    assert (jobs[0]["stages"], jobs[0]["tasks"], jobs[1]["tasks"]) == (2, 2, 1)
    s = tracing.summarize_jobs(jobs[:1])
    assert s["wall_s"] == pytest.approx(0.5)
    assert s["shuffle_write_mb"] == s["shuffle_read_mb"] == pytest.approx(2.0)
    assert s["spill_mb"] == pytest.approx(1.0)
    assert s["task_run_s"] == pytest.approx(0.1)
    assert s["task_cpu_s"] == pytest.approx(0.08)
    assert tracing.summarize_jobs(jobs)["jobs"] == 2


def test_stream_summary():
    prog = [
        {"run_id": "r1", "input_rows": 10, "durations": {"triggerExecution": 100, "addBatch": 60},
         "state": [{"rows": 5, "mem": 1024, "commit_ms": 3, "dropped": 0}]},
        {"run_id": "r1", "input_rows": 20, "durations": {"triggerExecution": 300, "addBatch": 90},
         "state": [{"rows": 9, "mem": 2048, "commit_ms": 4, "dropped": 1}]},
    ]
    s = tracing.stream_summary(prog)
    assert (s["batches"], s["batch_p50_ms"], s["add_batch_ms"]) == (2, 200, 150)
    assert (s["input_rows"], s["state_rows"], s["late_rows_dropped"]) == (30, 9, 1)
    assert s["state_commit_ms"] == 7


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    declared_e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    declared_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    names = [n for n, _ in declared_e2e + declared_layer]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


def test_emitted_metrics_are_the_declared_ones(monkeypatch):
    """Both metric builders emit exactly the declared names."""
    runs = [[{"op": "q01", "wall_s": 1.0}, {"op": "t01", "wall_s": 2.0}]]
    e2e = run.end_to_end("query_mix", 5.0, runs)
    assert [(k, u) for k, (_, u) in e2e.items()] == run.END_TO_END
    raw = {"kind": "none", "setup_s": 1.0, "peak_rss_mb": 900.0,
           "jvm_setup": {"gc_ms": 1.0, "jit_ms": 2.0}}
    monkeypatch.setattr(run, "_etl_layers", lambda *a: None)
    layers = run.per_layer(raw, [], 0.5)
    assert [(k, u) for k, (_, u) in layers.items()] == run.PER_LAYER


def test_result_line_has_exactly_the_contract_keys():
    e2e = run.end_to_end("etl_cycle", 5.0, [{"walls": {"a": 1.0, "b": 2.0, "c": 3.0}}])
    line = json.loads(json.dumps(run.result_line(True, 3, 0, e2e)))
    assert sorted(line) == ["attempted", "correct", "failed", "metrics"]
    assert line["metrics"]["pass_s"] == {"value": 6.0, "unit": "s"}
