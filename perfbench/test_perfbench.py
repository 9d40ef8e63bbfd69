"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at sf0.001, once untraced and
once traced, and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generator_is_deterministic_per_seed(tmp_path, seed):
    a, b = tmp_path / "a", tmp_path / "b"
    spec = {"tables_sf": 0.001, "tables_log": "read_heavy",
            "dump_sf": 0.001, "dump_log": "write_heavy"}
    for out in (a, b):
        gen.generate(str(out), seed, **spec)
    assert workloads.digest(str(a)) == workloads.digest(str(b))
    other = tmp_path / "other"
    gen.generate(str(other), seed + 100, **spec)
    for part in ("tables", "dump.sql", "tables.log", "dump.log"):
        assert workloads.digest(str(other / part)) != workloads.digest(str(a / part))


def test_query_log_mix_is_fixed_per_profile():
    # The seed changes order and literals, never the per-table mix, so the
    # embed-vs-reference plan cannot move with the seed.
    from relational_to_doc_oriented_nosql_migrator_spark.functions.sqlparse import (
        extract_table_refs,
    )

    def access_mix(text: str) -> list[str]:
        mix = []
        for line in text.splitlines():
            if " Query\t" in line:
                for ref in extract_table_refs(line.split("\t")[-1]):
                    op, _db, table = ref.split("::")
                    mix.append(("r:" if op == "select" else "w:") + table)
        return sorted(mix)

    for profile in gen.LOG_PROFILES:
        texts = [gen.query_log(seed, profile)[0] for seed in (1, 2)]
        assert texts[0] != texts[1]
        assert access_mix(texts[0]) == access_mix(texts[1])


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == workloads.per_layer_names()
    for m in spec["per_layer"]:
        assert m["unit"] == workloads.layer_unit(m["name"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_sf0001(workload, trace):
    spec = _bench_json()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(1 + trace), "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 2
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
