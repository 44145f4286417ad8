"""Tests of the benchmark's own code: generator determinism, the replica
against the engine on tiny feeds, the kernel check against the engine on a
tiny table, the loop's block boundary, and the metric names BENCHMARK.json
declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import replica  # noqa: E402
import run  # noqa: E402

_LARGE = gen.PARAMS["large_jobs"]
TINY = {
    "edi_small_feeds": {"block": [[f, 40 + 5 * i, r] for i, (f, _, r) in
                                  enumerate(gen.PARAMS["edi_small_feeds"]["block"])]},
    "large_jobs": {"bulk": {**_LARGE["bulk"], "rows": 600},
                   "multi": {**_LARGE["multi"], "base_rows": 300, "dim_rows": 120,
                             "xlsx_rows": 60},
                   "kernels": {**_LARGE["kernels"], "embeddings": 60}},
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _absolute(message: str, root: str) -> str:
    """Rewrite a job message's file names to absolute paths under ``root``."""
    msg = json.loads(message)
    if msg["type_id"] is None:
        for leg in msg["source"]:
            leg["filename"] = os.path.join(root, leg["filename"])
    else:
        msg["source"] = os.path.join(root, msg["source"])
    return json.dumps(msg)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"), TINY[workload])
    b = gen.generate(workload, 7, str(tmp_path / "b"), TINY[workload])
    c = gen.generate(workload, 8, str(tmp_path / "c"), TINY[workload])
    assert a == b
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []
    feeds = [n for n in names if n != "manifest.json"]
    _, differ, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", feeds, shallow=False)
    assert differ, "another seed must give other inputs"


def test_replica_cleaning_follows_the_reference():
    assert replica.clean_upc(" 0-04232-34567-89 77") == "0042323456789"
    assert replica.clean_upc("UPC:0042") == "UPC0042"
    assert replica.clean_integer("1,200 pcs") == 1200
    assert replica.clean_integer("") == 0
    assert replica.clean_float("12,99") == 12.99
    assert replica.clean_float("$ 1.2.3") == 1.2
    assert replica.clean_float("n/a") == 0.0
    assert replica.asin_validate(" b00abc1234 ") == "B00ABC1234"
    assert replica.asin_validate("B00ABC123") is None


def test_replica_merge_rules(tmp_path):
    p = tmp_path / "f.csv"
    p.write_text("UPC,Q,P,S,N\n1,5,1.5,a,x\n\n1,3,2.5,,y\n,9,9,z,w\n2,7,0,b,\n")
    msg = json.dumps({"supplier_id": 9, "type_id": 2, "source": str(p), "version": 3,
                      "column_map_rules": {"upc": "UPC", "qty": ["Q", "min"],
                                           "price": ["P", "max"], "status": ["S", "addArray"],
                                           "name": "N"}})
    out, keyed = replica.run_job(msg)
    assert keyed == 3
    assert out["1"] == {"upc": "1", "qty": 3, "price": 2.5, "status": ["a", None],
                        "name": "y", "supplier_id": 9, "version": 3}
    assert out["2"] == {"upc": "2", "qty": 7, "price": 0.0, "status": ["b"],
                        "supplier_id": 9, "version": 3}


@pytest.fixture(scope="module")
def engine():
    from etl_edi_data_scrapper_spark import Engine

    eng = Engine()
    yield eng
    eng.spark.stop()


@pytest.mark.parametrize("workload", sorted(TINY))
def test_replica_agrees_with_engine(tmp_path, engine, workload):
    from etl_edi_data_scrapper_spark.sinks import rows_as_json

    manifest = gen.generate(workload, 3, str(tmp_path), TINY[workload])
    formats = set()
    for job in manifest["jobs"]:
        if run.is_pass(job):
            continue
        msg = _absolute(job["message"], str(tmp_path))
        expected, keyed = replica.run_job(msg)
        got = [json.loads(r.value) for r in rows_as_json(engine.run_job(msg)).collect()]
        assert {g["upc"]: g for g in got} == expected, job["format"]
        assert len(got) == len(expected) and 0 < len(expected) <= keyed
        formats.add(job["format"])
    if workload == "edi_small_feeds":
        assert formats == {"csv", "xlsx", "xml", "jsonl"}
    else:
        assert formats == {"csv", "multi"}


def test_kernel_check_agrees_with_engine(tmp_path, engine):
    from etl_edi_data_scrapper_spark import suite

    manifest = gen.generate("large_jobs", 3, str(tmp_path), TINY["large_jobs"])
    idx = next(i for i, job in enumerate(manifest["jobs"]) if run.is_pass(job))
    bench = run.Bench.__new__(run.Bench)
    bench.jobs, bench.spark, bench.data_dir = manifest["jobs"], engine.spark, str(tmp_path)
    bench.suite, bench.kernel_rows, bench.collected = suite, {}, set()
    bench.warm_one(idx)
    assert set(bench.kernel_rows) == set(run.KERNELS)
    assert bench.check_kernels({idx}) == set()
    bench.kernel_rows["kmeans"] = ([], bench.kernel_rows["kmeans"][1])
    assert bench.check_kernels({idx}) == {idx}


def test_compare_rows():
    got = [(1, 0.1 + 0.2, "a"), (2, None, "b")]
    assert run.compare_rows(got, ["k", "x", "s"], [("b", None, 2), ("a", 0.3, 1)],
                            ["s", "x", "k"]) is None
    assert "rows differ" in run.compare_rows(got, ["k", "x", "s"],
                                             [(1, 0.3001, "a"), (2, None, "b")], ["k", "x", "s"])
    assert "oracle 1" in run.compare_rows(got, ["k", "x", "s"], [(1, 0.3, "a")], ["k", "x", "s"])
    assert "columns" in run.compare_rows(got, ["k", "x", "s"], got, ["k", "x", "t"])


class _Stream:
    block, min_jobs = 3, 3
    jobs = [{}] * 6


def test_loop_ends_on_a_block_boundary():
    out = run.Bench.loop(_Stream(), 0.0, run=lambda idx: (True, 0.0))
    assert [r["job"] for r in out["records"]] == [0, 1, 2]
    out = run.Bench.loop(_Stream(), 0.2, run=lambda idx: (True, time.sleep(0.05) or 0.05))
    assert [r["job"] for r in out["records"]] == [0, 1, 2, 3, 4, 5]


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_what_run_emits():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
    for m in spec["end_to_end"]:
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] for m in spec["end_to_end"])


def test_end_to_end_emits_every_declared_metric():
    class Stub:
        setup_s = 12.5
        jobs = [{"rows": 100}, {"rows": 300}]

        block = 2

    recs = {"records": [{"job": 0, "ok": True, "seconds": 1.0, "end": 1.0},
                        {"job": 1, "ok": True, "seconds": 3.0, "end": 4.0},
                        {"job": 0, "ok": True, "seconds": 1.0, "end": 5.0},
                        {"job": 1, "ok": False, "seconds": 0.5, "end": 6.0},
                        {"job": 0, "ok": True, "seconds": 1.5, "end": 7.5},
                        {"job": 1, "ok": True, "seconds": 3.5, "end": 11.0}], "wall_s": 11.0}
    metrics = run.end_to_end(Stub(), recs)
    assert set(metrics) == set(run.END_TO_END)
    assert metrics["job_s_p50"]["value"] == 1.5
    # blocks of 4 s (2 jobs, 400 rows), 2 s (1 job, 100 rows), 5 s (2 jobs, 400 rows)
    assert metrics["jobs_per_s"]["value"] == 0.5
    assert metrics["rows_per_s"]["value"] == 80.0
    assert run.block_walls(Stub(), recs) == [4.0, 2.0, 5.0]
    assert all(m["value"] > 0 for m in metrics.values())
