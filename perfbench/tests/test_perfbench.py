"""Tests of the benchmark itself: tiny runs of every workload with their
oracle checks, the traced run's schema and span nesting, the refusal to run
without the package, and the oracle's own comparisons.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.run import END_TO_END, tail  # noqa: E402
from perfbench.trace import parse_metric, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_passes_its_oracle(workload):
    res = result(run("--workload", workload, "--seed", "3", "--seconds", "2",
                     "--trace", "0", "--tiny"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 5
    names = {m["name"] for m in BENCH["end_to_end"]}
    assert set(res["metrics"]) == names == set(END_TO_END)
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name
        assert m["unit"] == END_TO_END[name]


def test_traced_run_emits_every_layer_and_spans_nest():
    workload = "tail_mor_reads"  # the workload that compacts
    res = result(run("--workload", workload, "--seed", "4", "--seconds", "3",
                     "--trace", "1", "--tiny"))
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in ("cdc.parse.python_s", "lake.table.write_s",
                 "lake.maintain.compactions", "lake.merge.shuffle_bytes",
                 "sources.files.decode_task_s", "lake.table.lookup_files",
                 "spark.task_s"):
        assert m[name] > 0, name
    with open(os.path.join(ROOT, ".bench_work", f"spans-{workload}-4.json")) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    names = {s["name"] for s in spans}
    assert {"op.batch", "op.load", "op.lookup", "cdc.replay.apply_batch",
            "lake.merge.delta_append", "lake.table.commit",
            "lake.maintain.compact", "sources.files.read_typed_csv"} <= names
    for s in spans:
        assert s["end"] >= s["start"]
        if s["parent"] is None:
            assert s["name"].startswith("op.") and s["root"] == s["id"]
            continue
        p = by_id[s["parent"]]
        assert p["start"] <= s["start"] and s["end"] <= p["end"]
        assert s["root"] == p["root"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("--workload", "bulk_cow", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_oracle_mismatch_counts_rows():
    lt = pa.list_(pa.int32())
    want = pa.table({
        "doc_id": ["a", "b", "c"],
        "tokens": pa.array([[1, 2], [3], []], lt),
        "n_tok": pa.array([2, 1, 0], pa.int32()),
    })
    assert oracle.mismatches(want, want) == 0
    got = pa.table({
        "doc_id": ["c", "a", "d"],
        "tokens": pa.array([[], [1, 5], [9]], lt),
        "n_tok": pa.array([0, 2, 1], pa.int32()),
    })
    # "a" differs in one token, "b" is missing, "d" is extra
    assert oracle.mismatches(got, want) == 3


def test_oracle_decodes_big_endian_payloads():
    payload = pa.array([b"\x00\x00\x00\x01\x00\x00\x01\x00", b""], pa.binary())
    assert oracle._decode(payload).to_pylist() == [[1, 256], []]


def test_metric_parsing_and_tail():
    assert parse_metric("10,000") == 10000
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 1.5
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("12 ms") == pytest.approx(0.012)
    value, beyond = tail([float(i) for i in range(1, 101)])
    assert 90 <= value <= 91 and beyond == 10
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}
