"""Benchmark harness: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload migrate_catalog --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs from ``--seed``
under ``.bench_work/``, starts Spark through ``session.get_spark`` twice
(each time in a JVM of its own; the first is stopped again), runs a
cold pass and then passes until ``--seconds`` have been measured, checks
every pass's output untimed, and prints:

* a ``{"report": ...}`` line with every end-to-end metric (``E2E_UNITS``),
  its unit and sample count, ``fail_ratio``, and a box snapshot;
* as the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
  the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``) named in ``BENCHMARK.json``.

With ``--trace 1`` the measured passes alternate untraced and traced; the
traced ones give the per-layer numbers and the difference of the two
medians is ``trace.overhead_s``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Inputs per workload. Sizes are fixed; the seed picks values only.
MIGRATE_ROWS = {"migrate_catalog": 40_000, "migrate_packets": 15_000}
OPERATORS_SCALE = 1.0
# Measured passes per run, at least. A migrate pass keeps getting cheaper
# for several passes (the JIT is still compiling), so a run measures the
# same passes (2 to 6; 2 and 3 on operators) however fast the box is, and
# reports their median.
MIN_PASSES = {"migrate_catalog": 5, "migrate_packets": 5, "operators": 2}
# Sessions started per run, each in a JVM of its own; setup_s is their
# median. A session costs 3 to 7 s, so more would not fit the 70-run
# schedule on a slow day.
SETUPS = 2
# Start no pass after this much wall since the process began, so a run
# ends well inside 180 s on a slow box.
LAST_PASS_START_S = 120.0
# Every end-to-end number a run reports; BENCHMARK.json gates the steady ones.
E2E_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "pass_tail_s": "s",
    "rows_per_s": "rows/s", "table_s": "s", "table_tail_s": "s",
    "first_pass_cpu_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
}


def box_snapshot() -> dict:
    """Load average, available memory and the box's cumulative CPU ticks
    (total and stolen by the hypervisor)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "mem_available_mb": round(_meminfo("MemAvailable") / 1024),
            "cpu_ticks": sum(ticks), "steal_ticks": ticks[7] if len(ticks) > 7 else 0}


def _meminfo(key: str) -> int:
    """A /proc/meminfo field in kB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used by a process tree: user and system time of every
    live member plus that of the children each has reaped. Time the
    hypervisor steals from the box is not in it."""
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every 100 ms."""

    def __init__(self):
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = 0
        for p in process_tree(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it, never below the median."""
    s = sorted(values)
    k = max(len(s) - 11, (len(s) - 1) // 2)
    return s[k], 100.0 * (k + 1) / len(s)


def configure_environment(work: str) -> dict:
    """Size Spark to the box and keep every file the run writes in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = _meminfo("MemTotal") // 1024 // 4
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the benchmark's packet callback.
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cpus": cpus,
        "driver_memory": f"{heap_mb}m",
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    }


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait for every process it started."""
    from pyspark import SparkContext

    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    # The next SparkContext in this process launches a JVM of its own.
    SparkContext._gateway = SparkContext._jvm = None


def make_workload(name: str, work: str, cpus: int):
    from perfbench import workloads

    if name == "migrate_catalog":
        return workloads.MigrateCatalog(work, MIGRATE_ROWS[name], cpus)
    if name == "migrate_packets":
        return workloads.MigratePackets(work, MIGRATE_ROWS[name], cpus)
    if name == "operators":
        return workloads.Operators(work, OPERATORS_SCALE)
    raise SystemExit(f"unknown workload {name!r}")


# ------------------------------------------------------------ per-layer

def _sum(spans, name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def layer_metrics(w, spans, names: list[str]) -> dict[str, float]:
    """Per-layer numbers of one traced pass; layers the workload does not
    call read 0."""
    from perfbench import trace, workloads

    m = {n: 0.0 for n in names}
    tracer = w.tracer
    tracer.resolve_jobs(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    root = by_name["pass"][0]
    m["trace.pass_s"] = root.dur
    m["trace.self_s"] = trace.self_time(root, spans)
    all_jobs = sorted({j for s in spans for j in s.jobs})
    for k, v in tracer.stage_totals(all_jobs).items():
        m[f"execute.{k}"] = v

    if isinstance(w, workloads.Migrate):
        run = by_name["migrate.run"][0]
        for n in ("fetch_tables", "get_table_schema", "read_table"):
            m[f"sources.{n}_s"] = _sum(spans, f"sources.{n}")
        m["sources.get_table_schema_calls"] = len(by_name.get("sources.get_table_schema", []))
        m["migrate.map_schema_s"] = _sum(spans, "migrate.map_schema")
        m["migrate.self_s"] = trace.self_time(run, spans)
        fan_out = max(s.end for s in spans
                      if s.name in ("sinks.list_tables", "sinks.reset_tables"))
        first = {}
        for s in by_name.get("sources.get_table_schema", []):
            first[s.key] = min(first.get(s.key, s.start), s.start)
        m["migrate.queue_wait_s"] = sum(max(0.0, t - fan_out) for t in first.values())
        writes = by_name.get("sinks.write_table", [])
        if "sinks.create_constraints" in by_name and writes:
            m["migrate.constraints_phase_s"] = run.end - max(s.end for s in writes)
        for n in ("list_tables", "reset_tables", "table_exists", "create_table",
                  "write_table", "create_constraints"):
            m[f"sinks.{n}_s"] = _sum(spans, f"sinks.{n}")
        m["sinks.write_table_jobs"] = sum(len(s.jobs) for s in writes)
        if isinstance(w, workloads.MigratePackets):
            write_jobs = [j for s in writes for j in s.jobs]
            run_s = tracer.stage_totals(write_jobs)["executor_run_s"]
            m.update(w.packet_metrics())
            m["sinks.assemble_s"] = max(0.0, run_s - m["sinks.execute_s"])
            m["common.render_s"] = w.time_render()
    else:
        for s in by_name.get("operators.construct", []):
            m[f"operators.{s.key}.construct_s"] = s.dur
            m[f"operators.{s.key}.construct_jobs"] = len(s.jobs)
        for s in by_name.get("execute.query", []):
            m[f"execute.{s.key}.s"] = s.dur
        m["catalyst.plan_s"] = _sum(spans, "catalyst.plan")
        for p, ms in w.phases.items():
            m[f"catalyst.{p}_ms"] = ms
    unknown = set(m) - set(names)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


# ----------------------------------------------------------------- main

def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t_start = time.perf_counter()
    env = configure_environment(work)
    box_before = box_snapshot()
    w = make_workload(workload, work, env["cpus"])
    w.prepare(seed % (1 << 32))  # numpy seeds must be non-negative
    timeline = {"prepared": time.perf_counter() - t_start}

    from db_migrator_spark.session import get_spark

    with RssSampler() as rss:
        setups = []
        for i in range(SETUPS):
            # Each set-up builds the package zip again, as a fresh checkout does.
            for f in glob.glob(os.path.join(work, "tmp", "db_migrator_spark-*.zip")):
                os.remove(f)
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=env["extra_conf"])
            setups.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                stop_spark(spark)
        timeline["setup_done"] = time.perf_counter() - t_start
        try:
            w.bind(spark)
            timeline["bound"] = time.perf_counter() - t_start
            result = measure(w, workload, seconds, traced, t_start, spec)
            timeline["measured"] = time.perf_counter() - t_start
        finally:
            stop_spark(spark)
    timeline["stopped"] = time.perf_counter() - t_start
    result["report"]["timeline_s"] = timeline
    result["report"]["setups_s"] = setups
    result["report"]["metrics"].update({
        "setup_s": {"value": statistics.median(setups), "unit": "s", "samples": SETUPS},
        "peak_rss_mb": {"value": rss.peak_bytes / 2**20, "unit": "MB",
                        "samples": rss.samples},
    })
    box_after = box_snapshot()
    ticks = box_after["cpu_ticks"] - box_before["cpu_ticks"]
    result["report"]["box"] = {
        "before": box_before, "after": box_after, "cpus": env["cpus"],
        "driver_memory": env["driver_memory"],
        "steal_share": (box_after["steal_ticks"] - box_before["steal_ticks"]) / max(1, ticks),
    }
    return result


def measure(w, workload, seconds, traced, t_start, spec) -> dict:
    attempted = failed = 0
    walls: dict[str, list[float]] = {"cold": [], "untraced": [], "traced": []}
    cpus: dict[str, list[float]] = {"cold": [], "untraced": [], "traced": []}
    latencies: list[float] = []
    rows = 0
    layer_rows: list[dict] = []
    check_walls: list[float] = []
    first_pass_ops: dict[str, float] = {}
    traced_spans: list[list[dict]] = []
    per_layer = [m["name"] for m in spec["per_layer"]]

    def one_pass(kind: str):
        nonlocal attempted, failed, rows
        w.tracer.enabled = kind == "traced"
        cpu0 = tree_cpu_s(os.getpid())
        res = w.run_pass()
        cpus[kind].append(tree_cpu_s(os.getpid()) - cpu0)
        w.tracer.enabled = False
        spans = w.tracer.take()
        bad = set(res.failed)
        c0 = time.perf_counter()
        bad |= w.check(res)
        check_walls.append(time.perf_counter() - c0)
        attempted += len(res.attempted)
        failed += len(bad)
        walls[kind].append(res.wall)
        if kind == "cold":
            first_pass_ops.update(res.latencies)
        if kind == "untraced":
            latencies.extend(w.latency_samples(res, bad))
            rows += w.rows_landed(res, bad)
        if kind == "traced":
            layer_rows.append(layer_metrics(w, spans, per_layer))
            traced_spans.append([dataclasses.asdict(sp) for sp in spans])

    one_pass("cold")
    i = 0
    while True:
        one_pass("traced" if traced and i % 2 == 1 else "untraced")
        i += 1
        measured = sum(walls["untraced"]) + sum(walls["traced"])
        enough = (len(walls["untraced"]) >= MIN_PASSES[workload]
                  and (walls["traced"] or not traced))
        if enough and (measured >= seconds
                       or time.perf_counter() - t_start >= LAST_PASS_START_S):
            break

    untraced = walls["untraced"]
    pass_tail, pass_pct = tail(untraced)
    if not latencies:  # every operation failed; the run is reported as incorrect
        latencies = [0.0]
    table_tail, table_pct = tail(latencies)
    n, m = len(untraced), len(latencies)
    values = {
        "first_pass_s": (walls["cold"][0], 1),
        "pass_s": (statistics.median(untraced), n),
        "pass_tail_s": (pass_tail, n),
        "rows_per_s": (rows / sum(untraced), n),
        "table_s": (statistics.median(latencies), m),
        "table_tail_s": (table_tail, m),
        "first_pass_cpu_s": (cpus["cold"][0], 1),
        "pass_cpu_s": (statistics.median(cpus["untraced"]), n),
        "fail_ratio": (failed / attempted, attempted),
    }
    report = {
        "workload": workload,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k], "samples": c}
                    for k, (v, c) in values.items()},
        "pass_tail_percentile": pass_pct,
        "table_tail_percentile": table_pct,
        "attempted": attempted,
        "failed": failed,
        "pass_walls": untraced,
        "pass_cpus": cpus["untraced"],
        "check_walls": check_walls,
        "first_pass_ops": first_pass_ops,
    }
    layers = {}
    if traced:
        layers = {n: statistics.median(r[n] for r in layer_rows) for n in per_layer
                  if n != "trace.overhead_s"}
        layers["trace.overhead_s"] = (statistics.median(walls["traced"])
                                      - statistics.median(untraced))
        report["traced_samples"] = len(layer_rows)
    return {"report": report, "layers": layers, "spans": traced_spans,
            "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "db_migrator_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: db_migrator_spark/ and __spark_entry__.py not found next to "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {wl["name"] for wl in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rep = out["report"]
    if args.trace:
        # The spans of every traced pass, written out when the run ends.
        path = os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(out["spans"], f)
        rep["spans_file"] = os.path.relpath(path, ROOT)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": v, "unit": units[n]} for n, v in out["layers"].items()}
    else:
        metrics = {m["name"]: {"value": rep["metrics"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"report": rep}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
