"""Smoke tests for perfbench: run from the repository root with

    python3 -m pytest perfbench -q

Each test runs ``run.py --smoke`` (12 conversations) in a child process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import prepare as prep
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run(*args: str, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1", "--seconds", "1",
         *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, result


def test_turn_term_composition_equals_oracle_triples():
    from kg_obo_spark.datagen.ontology import build_ontology
    from kg_obo_spark.oracle.pyoracle import oracle_triples

    onto = build_ontology(n_terms=prep.N_TERMS)
    t = onto.terms
    texts = [
        f"{t[0]['name']} and {t[1]['name']} with {t[0]['id']}.",
        f"Only {t[2]['name'].upper()} here.",
        f"{t[3]['iri']} next to {t[4]['name']} and {t[5]['name']}s",
        "No entities were detected in this chunk.",
    ]
    # both ends of some is_a edges, so the composition's is_a branch runs
    names = {x["id"]: x["name"] for x in t}
    texts += [f"{names[c]} then {names[p]}." for c, p in onto.is_a[:5]]
    rows = [("conv-%d" % (i // 2), i % 2, text) for i, text in enumerate(texts)]
    prep._init_worker(prep.N_TERMS)
    got = prep.triples_from_turn_terms(prep._turn_terms(rows), onto)
    want = oracle_triples(rows, onto)
    assert any(p == prep.SUBCLASS for _s, p, _o in want)
    assert got == want


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    p, result = run("--workload", workload, "--trace", "0", "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    table = {line.split()[1]: line.split()[3] for line in p.stdout.splitlines()[:-1]}
    for name, unit in want.items():
        assert table[name] == unit
    assert "failed_frac" in table


def test_altered_edge_set_raises_failed_frac():
    p, result = run("--workload", "build_ascii", "--trace", "0", "--smoke", "--corrupt-edges")
    assert p.returncode == 0, p.stderr[-4000:]
    assert not result["correct"] and result["failed"] >= 1
    frac = next(float(line.split()[2]) for line in p.stdout.splitlines()
                if line.split()[1] == "failed_frac")
    assert frac > 0


def test_traced_run_spans_nest_and_report_every_layer():
    p, result = run("--workload", "build_ascii", "--trace", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    assert result["correct"], p.stderr[-4000:]
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    path = os.path.join(ROOT, ".perfbench_work", "traces", "build_ascii-s1-spans.json")
    with open(path) as f:
        recorded = json.load(f)
    assert spans.nesting_errors(recorded) == []
    assert all(s["self_s"] >= 0 for s in recorded)
    runs = [s for s in recorded if s["name"] == "pipeline.run_pipeline"]
    assert runs and all(s["parent"] is not None for s in runs)
    # the event log's jobs and tasks reach the run_pipeline spans
    assert result["metrics"]["pipeline.spark_jobs"]["value"] > 0
    assert result["metrics"]["spark.tasks"]["value"] > 0


def test_nesting_errors_catch_a_child_outside_its_parent():
    bad = [{"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 1.0},
           {"id": 1, "name": "b", "parent": 0, "start": 0.5, "end": 1.5}]
    assert spans.nesting_errors(bad)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "build_ascii",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
