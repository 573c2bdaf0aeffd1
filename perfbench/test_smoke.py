"""Smoke test of the benchmark on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs the harness in a subprocess (it sets process-wide Spark
environment) with the inputs shrunk, and asserts that every metric named
in BENCHMARK.json is emitted with its unit, that ``fail_ratio`` is 0 on the
program as it is, and that a corrupted target row raises it above 0.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

def _corrupt_one_row(target: str) -> None:
    """Change the id of one landed row of the orders table."""
    db = os.path.join(target, "orders.db")
    if os.path.exists(db):  # migrate_packets: one sqlite file per table
        conn = sqlite3.connect(db)
        try:
            conn.execute('UPDATE "orders" SET id = id + 1000000 WHERE rowid = 1')
            conn.commit()
        finally:
            conn.close()
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(target, "orders")
    f = os.path.join(path, sorted(p for p in os.listdir(path) if p.endswith(".parquet"))[0])
    tab = pq.read_table(f)
    i = tab.schema.get_field_index("id")
    ids = tab.column(i).to_pylist()
    ids[0] += 1_000_000
    pq.write_table(tab.set_column(i, "id", pa.array(ids, tab.schema.field(i).type)), f)
    # Drop Hadoop's checksum sidecar, so the read sees a wrong row rather
    # than a damaged file.
    os.remove(os.path.join(path, f".{os.path.basename(f)}.crc"))


def _child(workload: str, traced: bool, corrupt: bool) -> None:
    """Runs in the subprocess: one harness run on shrunk inputs."""
    from perfbench import run, workloads

    run.MIGRATE_ROWS.update(migrate_catalog=2000, migrate_packets=2000)
    run.OPERATORS_SCALE = 0.4
    run.MIN_PASSES = dict.fromkeys(run.MIN_PASSES, 2)
    if corrupt:
        check = workloads.Migrate.check

        def corrupting_check(self, res):
            if not res.failed:
                _corrupt_one_row(res.target)
            return check(self, res)

        workloads.Migrate.check = corrupting_check
    work = os.path.join(ROOT, ".bench_work", f"smoke-{os.getpid()}")
    try:
        out = run.run(workload, 7, 1, traced, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out.pop("spans")
    print(json.dumps(out))


def _run(workload: str, traced: bool, corrupt: bool = False) -> dict:
    code = (f"import sys; sys.path.insert(0, {ROOT!r}); from perfbench import test_smoke; "
            f"test_smoke._child({workload!r}, {traced!r}, {corrupt!r})")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _main_output(workload: str, traced: bool) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(int(traced))],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload,traced", [
    ("migrate_catalog", False),
    ("migrate_packets", True),
    ("operators", True),
])
def test_every_metric_emitted_with_unit_and_no_failures(workload, traced):
    out = _run(workload, traced)
    reported = out["report"]["metrics"]
    assert set(reported) == set(run_module().E2E_UNITS)
    for name, m in reported.items():
        assert m["unit"] == run_module().E2E_UNITS[name] and m["samples"] >= 1, name
        if name != "fail_ratio":
            assert m["value"] > 0, name
    assert reported["fail_ratio"]["value"] == 0
    assert out["failed"] == 0 and out["attempted"] > 0
    if traced:
        names = [m["name"] for m in SPEC["per_layer"]]
        assert sorted(out["layers"]) == sorted(names)
        # the spans of a traced pass account for its wall
        layers = out["layers"]
        assert layers["trace.self_s"] < layers["trace.pass_s"]
        assert layers["execute.stages"] > 0 and layers["execute.executor_run_s"] > 0
        if workload == "operators":
            parts = (layers["trace.self_s"] + layers["catalyst.plan_s"]
                     + sum(layers[f"operators.{q}.construct_s"] for q in _queries())
                     + sum(layers[f"execute.{q}.s"] for q in _queries()))
            assert abs(parts - layers["trace.pass_s"]) < 0.01 * layers["trace.pass_s"]
        else:
            assert layers["sinks.write_table_jobs"] > 0
            assert layers["migrate.queue_wait_s"] > 0
        if workload == "migrate_packets":
            assert layers["sinks.packets"] > 0 and layers["common.render_s"] > 0
            assert layers["sinks.execute_failed"] == 0


def _queries() -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import QUERIES

    return QUERIES


def run_module():
    sys.path.insert(0, ROOT)
    from perfbench import run

    return run


@pytest.mark.parametrize("workload", ["migrate_catalog", "migrate_packets"])
def test_corrupted_target_row_raises_fail_ratio(workload):
    out = _run(workload, traced=False, corrupt=True)
    assert out["report"]["metrics"]["fail_ratio"]["value"] > 0
    # only the corrupted table fails, once per checked pass
    assert out["failed"] == len(out["report"]["check_walls"])


def test_command_line_prints_units_and_result_line():
    report, final = _main_output("migrate_packets", traced=False)
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0
    expected = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in final["metrics"].items()} == expected
    for name, unit in expected.items():
        assert report["metrics"][name]["unit"] == unit
        assert report["metrics"][name]["value"] == final["metrics"][name]["value"]
    assert report["metrics"]["fail_ratio"] == {"value": 0.0, "unit": "ratio",
                                               "samples": final["attempted"]}


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src, \
                    open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    with open(tmp_path / "BENCHMARK.json", "w") as f:
        json.dump(SPEC, f)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migrate_catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
