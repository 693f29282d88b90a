"""Smoke test of the benchmark: every workload at a tiny size reports
every metric ``BENCHMARK.json`` names, with its unit, and the output
checks fail on a corrupted triple set.

    python3 -m pytest kgbench/test_smoke.py -q

Run from the root of a checkout; each tiny run starts its own Spark
session, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_reports_every_metric(workload, trace, kind):
    p = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


@pytest.fixture(scope="module")
def spark():
    from kgbench import env

    run = env.RunDir()
    session = env.start_spark(run)
    yield session
    session.stop()
    run.close()


def test_checks_fail_on_a_corrupted_triple(spark, tmp_path):
    from kgbench import check, gen
    from kgbench.workloads import Unit, _build, judge

    pages = gen.zipf_pages(spark, 40, 7, 300, 2)
    _build(pages, False, str(tmp_path / "triples"))
    good = spark.read.parquet(str(tmp_path / "triples")).select(
        *check.TRIPLE_COLS)
    # one triple replaced by one the engine never emits
    bad = good.exceptAll(good.limit(1)).unionByName(spark.createDataFrame(
        [("corrupt", "has_term", "corrupt")], list(check.TRIPLE_COLS)))

    assert check.reference_f1(pages, good, False) == 1.0
    assert check.reference_f1(pages, bad, False) < 1.0
    assert check.triple_digest(good) != check.triple_digest(bad)
    units = [Unit("a", 1.0, 40, True), Unit("b", 1.0, 40, True)]
    assert not judge(units, {"a": check.triple_digest(good),
                             "b": check.triple_digest(bad)})
    assert [u.ok for u in units] == [True, False]
