"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke test starts one Spark process per workload and mode (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.check import digest, oracle_frame  # noqa: E402
from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _files(d: Path) -> dict:
    return {p.relative_to(d): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


def test_benchmark_json_lists_every_workload_and_metric():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert all(set(w) == {"name", "why"} for w in bench["workloads"])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {k: (m["unit"], m["better"]) for k, m in e2e.items()} == END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert {k: (m["unit"], m["better"]) for k, m in layer.items()} == {
        k: v[:2] for k, v in PER_LAYER.items()}
    listed = {w["name"] for w in bench["workloads"]}
    unmeasured = [k for k, v in PER_LAYER.items() if not listed & set(v[3])]
    assert not unmeasured, "per-layer metrics no listed workload measures"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = inputs.generate(7, workload, tmp_path / "a", "tiny")
    b = inputs.generate(7, workload, tmp_path / "b", "tiny")
    inputs.generate(8, workload, tmp_path / "c", "tiny")
    assert a == b
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")


def test_inputs_keep_the_fixture_skew_and_failure_mix(tmp_path):
    import pandas as pd

    from geocode_spark.fixtures import GRIDS

    inputs.generate(7, "pages_scan", tmp_path / "in", "tiny")
    addr = pd.read_parquet(tmp_path / "in" / "addresses.parquet")
    name, _, zips = GRIDS[0]
    hot = addr["zone"].str.upper().str.contains("|".join([name, *zips]))
    assert 0.4 < hot.mean() < 0.7  # the fixtures' SALT LAKE CITY ~55% skew
    assert (addr["street"].isin(["fasf", "null island", "???", ""])).any()
    pages = pd.read_parquet(tmp_path / "in" / "pages.parquet")
    assert pages["text"].str.contains("A" * 600).any()  # poison street


def test_digest_ignores_order_and_catches_a_flipped_score(tmp_path):
    from geocode_spark.oracle import geocode_oracle_sql

    inputs.generate(3, "addresses_job", tmp_path / "in", "tiny")
    good = oracle_frame(geocode_oracle_sql(str(tmp_path / "in"), pobox=True))
    shuffled = good.sample(frac=1.0, random_state=1)[list(reversed(good.columns))]
    assert digest(shuffled) == digest(good)
    bad = good.copy()
    i = bad.index[bad["score"] > 0][0]
    bad.loc[i, "score"] -= 1
    assert digest(bad) != digest(good)
    assert digest(good.iloc[1:]) != digest(good)


def test_check_flags_a_perturbed_job_output(tmp_path):
    from geocode_spark.oracle import geocode_oracle_sql
    from geocode_spark.session import get_spark
    from perfbench.workloads import AddressesJob, Ctx, Op

    inputs.generate(3, "addresses_job", tmp_path / "in", "tiny")
    good = oracle_frame(geocode_oracle_sql(str(tmp_path / "in"), pobox=True))
    bad = good.copy()
    bad.loc[bad.index[bad["score"] > 0][0], "score"] += 1
    ops = []
    for name, frame in (("good", good), ("bad", bad)):
        part = tmp_path / name / "batch_id=0"
        part.mkdir(parents=True)
        frame.to_parquet(part / "part-0.parquet")
        ops.append(Op(len(frame), 1.0, [1e3], out=(tmp_path / name,
                                                   {"total": len(frame)})))
    spark = get_spark("perfbench-tests", parallelism=2)
    ctx = Ctx(spark, tmp_path / "in", tmp_path, {"addresses": len(good)})
    failed, _ = AddressesJob().check(ctx, ops)
    assert failed == 1


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_workload_reports_every_metric(trace):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "all",
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1500,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert proc.returncode == 0, proc.stdout
    want = ({k: v[0] for k, v in PER_LAYER.items()} if trace
            else {k: v[0] for k, v in END_TO_END.items()})
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    assert [x["workload"] for x in lines] == list(WORKLOADS)
    for x in lines:
        res = x["result"]
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: m["unit"] for k, m in res["metrics"].items()} == want
