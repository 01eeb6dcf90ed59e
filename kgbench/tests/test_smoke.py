"""Tiny end-to-end runs of the benchmark command, plus the one check that
needs a Spark session."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from dataclasses import asdict

import pytest

from kgbench import checks, gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = json.dumps(asdict(gen.SMALL))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int = 0, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sizes", SMALL],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["kg_build", "kg_query"])
def test_smoke_run_reports_every_end_to_end_metric(workload):
    r = _result(_run(workload))
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 2
    names = {m["name"] for m in _bench()["end_to_end"]}
    assert set(r["metrics"]) == names
    units = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    for name, v in r["metrics"].items():
        assert v["unit"] == units[name]
        assert v["value"] > 0, name


@pytest.mark.xfail(reason="a recaptured page whose newest capture yields no "
                          "annotations (e.g. it turned non-English) keeps its old "
                          "triples in the KGStore, so the final-store check fails "
                          "whenever the stream contains such a capture",
                   strict=False)
def test_smoke_recrawl():
    r = _result(_run("kg_recrawl"))
    assert r["correct"] is True


def test_traced_run_emits_every_per_layer_metric():
    p = _run("kg_query", trace=1)
    r = _result(p)
    assert set(r["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    span_file = next(line.split()[-1] for line in p.stdout.splitlines()
                     if line.startswith("spans written to"))
    with open(os.path.join(ROOT, span_file)) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"op", "sparql.plan", "probe", "extraction", "kg_stream.advance"} <= names
    assert all(s["end"] >= s["start"] for s in spans)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("kg_build", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_triple_set_diff_finds_missing_and_extra(spark):
    cols = "subj string, pred string, obj string"
    store = spark.createDataFrame([("a", "p", "1"), ("b", "p", "2")], cols)
    same = spark.createDataFrame([("b", "p", "2"), ("a", "p", "1")], cols)
    other = spark.createDataFrame([("a", "p", "1"), ("c", "p", "3"), ("d", "p", "4")], cols)
    assert checks.triple_set_diff(store, same) == (0, 0)
    assert checks.triple_set_diff(store, other) == (2, 1)
