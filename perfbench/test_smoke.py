"""Smoke test of the benchmark at tiny sizes:

    python3 -m pytest perfbench/test_smoke.py -q

It checks that every metric BENCHMARK.json names is emitted with its
unit, that the traced run's span tree is well formed, that each
workload's verification rejects a corrupted output, and that the
benchmark refuses to run without the package beside it.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
sys.path.insert(0, ROOT)


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "5", "--seconds", "1",
                             "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=[0, 1], ids=["untraced", "traced"])
def run(request):
    proc = _run(SPEC["workloads"][0]["name"], request.param)
    return request.param, _result(proc)


def test_every_metric_emitted_with_its_unit(run):
    from perfbench.run import unit_of

    trace, res = run
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(unit_of(k) == u for k, u in want.items())
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if not trace:
        assert all(res["metrics"][m]["value"] > 0 for m in want)


def test_span_tree_is_well_formed(run):
    from perfbench.tracing import Span, self_times

    trace, _ = run
    if not trace:
        pytest.skip("spans are recorded by traced runs")
    workload = SPEC["workloads"][0]["name"]
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed5-trace1.spans.json")
    with open(path, encoding="utf-8") as f:
        raw = json.load(f)
    spans = [Span(**{k: v for k, v in s.items() if k != "self_s"}) for s in raw]
    by_id = {s.sid: s for s in spans}
    tops = [s for s in spans if s.parent is None]
    assert tops and all(s.name == "op" for s in tops)
    eps = 1e-3
    for s in spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.op == s.op
            assert p.start - eps <= s.start and s.end <= p.end + eps, (s, p)
    assert all(v >= -eps for v in self_times(spans).values())
    names = {s.name for s in spans}
    assert {"run_pipeline", "write:extract", "write:edges", "plan:alias_cc"} <= names


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from perfbench.run import _stop, environment
    from perfbench.tracing import Tracer

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    saved = dict(os.environ)
    os.environ.update(environment(work))
    from surfactant_spark.session import get_spark

    spark = get_spark("perfbench-smoke")
    yield SimpleNamespace(spark=spark, tracer=Tracer(spark.sparkContext), work=work,
                          seed=5, size="tiny")
    _stop(spark)
    os.environ.clear()
    os.environ.update(saved)


def _corrupt(name: str, out):
    from pyspark.sql import functions as F

    if name == "kg_build":
        return dataclasses.replace(out, edges=out.edges.limit(max(0, out.stage_rows["edges"] - 1)))
    if name == "kg_enrich":
        return dataclasses.replace(out, clusters=out.clusters.withColumn("is_survivor", F.lit(True)))
    if name == "kg_fold":
        return dataclasses.replace(out, edges=out.edges.withColumn("n_evidence", F.col("n_evidence") + 1))
    if name == "kg_graph":
        return dict(out, cc=set(list(out["cc"])[1:]))
    raise AssertionError(name)


@pytest.mark.parametrize("name", ["kg_build", "kg_enrich", "kg_fold", "kg_graph"])
def test_verification_rejects_corrupted_output(ctx, name):
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](ctx)
    wl.setup()
    wl.reset()
    out = wl.op()
    assert wl.check(out) == []
    wl.reset()
    out = wl.op()
    assert wl.check(_corrupt(name, out)) != []
