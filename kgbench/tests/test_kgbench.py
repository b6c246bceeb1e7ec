"""Tests of the benchmark itself: BENCHMARK.json is well formed, each
workload runs end to end at tiny scale and emits exactly the declared
metrics, every gate trips on a deliberately corrupted output, engine
counters land on the right span, and the command fails without the program.

    python -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gates  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
from node_feedparser_spark.reference_extract import (  # noqa: E402
    canonicalize_entities,
    extract_corpus,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_is_well_formed():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert SPEC["paths"] == ["kgbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= len(SPEC["per_layer"]) <= 128
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, declared: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_at_tiny_scale(workload):
    result = _result(_run(workload, 0))
    _check_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    result = _result(_run("entity_heavy", 1))
    _check_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.build_kg.stages"] > 0
    assert m["pipeline.build_kg.executor_cpu_s"] > 0
    assert m["pipeline.build_kg.shuffle_write_bytes"] > 0
    assert m["pipeline.build_kg.shuffle_read_bytes"] > 0
    assert m["canonicalize.verified_pairs"] <= m["canonicalize.lsh_pairs"]


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH, tmp_path / "kgbench",
        ignore=shutil.ignore_patterns("__pycache__", ".bench_*"),
    )
    proc = _run("fresh_build", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_inputs_are_seeded_and_schema_pinned(tmp_path):
    a = inputs.prepare(str(tmp_path / "a"), "entity_heavy", 7, "tiny")
    b = inputs.prepare(str(tmp_path / "b"), "entity_heavy", 7, "tiny")
    ta = pq.read_table(os.path.join(a, "corpus.parquet"))
    assert ta.equals(pq.read_table(os.path.join(b, "corpus.parquet")))
    # an all-null tool column still carries the declared string type
    assert ta.column("tool").null_count == ta.num_rows
    assert ta.schema.field("tool").type == pa.string()


def test_triple_gates_trip_on_a_dropped_triple(tmp_path):
    d = inputs.prepare(str(tmp_path), "fresh_build", 5, "tiny")
    corpus = os.path.join(d, "corpus.parquet")
    with open(os.path.join(d, "expected.json")) as f:
        expected = json.load(f)
    convs = gates.sample_convs(corpus, 5)
    want = gates.reference_triples(corpus, convs)
    assert want and gates.check_triples(set(want), want) == []
    dropped = set(want)
    dropped.remove(min(dropped))
    assert gates.check_triples(dropped, want)

    summary = {"n_triples": expected["n_triples"]}
    assert gates.check_counts(summary, expected["n_turns"], expected) == []
    summary["n_triples"] -= 1
    assert gates.check_counts(summary, expected["n_turns"], expected)


def test_entity_gate_trips_on_a_remapped_variant(tmp_path):
    d = inputs.prepare(str(tmp_path), "entity_heavy", 5, "tiny")
    with open(os.path.join(d, "groups.json")) as f:
        groups = json.load(f)
    rows = inputs.read_rows(os.path.join(d, "corpus.parquet"))
    triples = extract_corpus(rows).triples
    entity_of, _ = canonicalize_entities(triples)
    surface_ids = {s: {i} for s, i in entity_of.items()}
    # the generated grouping is exactly the reference canonicalization
    assert gates.check_entity_groups(surface_ids, groups) == []
    surface_ids[groups[0][2]] = surface_ids[groups[1][0]]
    assert gates.check_entity_groups(surface_ids, groups)


def test_counters_attribute_by_job_group_then_time_window(tmp_path):
    def event(kind, **body):
        # Spark writes compact JSON with "Event" as the first key
        line = {"Event": f"SparkListener{kind}", **body}
        return json.dumps(line, separators=(",", ":")) + "\n"

    def stage(sid, tasks):
        return event("StageCompleted", **{"Stage Info": {
            "Stage ID": sid, "Number of Tasks": tasks}})

    def task(sid, cpu_ns, shuffle_bytes=0):
        return event("TaskEnd", **{"Stage ID": sid, "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes}}})

    log = tmp_path / "events"
    log.write_text(
        event("JobStart", **{"Job ID": 0, "Submission Time": 1500, "Stage IDs": [0],
                             "Properties": {"spark.jobGroup.id": "a"}})
        + event("JobStart", **{"Job ID": 1, "Submission Time": 2500,
                               "Stage IDs": [1, 0]})
        + task(0, 1.5e9, 100) + task(0, 0.5e9, 20) + stage(0, 4)
        + task(1, 1e9) + stage(1, 2)
    )
    spans = [
        {"name": "a", "parent": None, "start": 1.0, "end": 2.0},
        {"name": "b", "parent": None, "start": 2.0, "end": 3.0},
        {"name": "b.phase", "parent": "b", "start": None, "end": None},
    ]
    got = tracing.span_counters(spans, str(log))
    assert got["a"]["stages"] == 1 and got["a"]["tasks"] == 4
    assert got["a"]["executor_cpu_s"] == pytest.approx(2.0)
    assert got["a"]["shuffle_write_bytes"] == 120
    assert got["b"]["stages"] == 1 and got["b"]["tasks"] == 2
