"""Drive __spark_entry__ the way the external correctness driver does:
a subprocess with a *vanilla* SparkSession (no tuned configs) launched
from a foreign cwd. Catches anything that only works under our tuned
get_spark() — worker-side package imports (session._ship_package),
nanos-timestamp repair, etc."""

import subprocess
import sys

_PROBE = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e

df = e.entry(spark)
assert df.count() >= 0
qs = e.queries()
# one pandas-UDF query (worker must import the package), one events query
# (nanos-timestamp repair), one plain relational query.
for key in ("q_grouped_mad", "events_tumbling_hourly", "q1_pricing_summary"):
    n = qs[key](spark, "/root/testdata/sf0.001").count()
    assert n > 0, key
# the in-driver capture (db_migrator_spark/diagnostics.py) must work from
# a foreign cwd under a vanilla session — that is exactly how the external
# driver would execute it if a query ever reds again. The red set is empty
# as of r9, so exercise maybe_capture directly; the output goes to a TEMP
# path (never the shared repo artifact — ADVICE r9 #4).
import json, os, tempfile
os.environ.pop("SPARK_GRAFT_NO_DIAG", None)  # capture must be live here
diag_out = os.path.join(tempfile.mkdtemp(prefix="diagprobe"), "diag.json")
os.environ["SPARK_GRAFT_DIAG_OUT"] = diag_out
from db_migrator_spark.diagnostics import maybe_capture
import __spark_entry__ as _e
_oracles = _e.oracle_sql()
_df = qs["events_dow_seasonality"](spark, "/root/testdata/sf0.001")
maybe_capture("events_dow_seasonality", _df, spark,
              "/root/testdata/sf0.001",
              _oracles["events_dow_seasonality"])
diag = json.load(open(diag_out))
rec = diag.get("events_dow_seasonality@sf0.001")
assert rec and rec.get("spark", {}).get("hash"), sorted(diag)
assert rec["env"].get("pyspark"), rec["env"]
assert rec["spark"]["hash"] == rec["oracle_current"]["hash"], rec
# the sf bound must hold: a 10x dir parses to sf > 0.011 and skips.
maybe_capture("events_dow_seasonality", _df, spark, "/tmp/sf1",
              _oracles["events_dow_seasonality"])
assert "events_dow_seasonality@sf1" not in json.load(open(diag_out))
print("PROBE_OK")
"""


def test_vanilla_session_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PROBE_OK" in proc.stdout


def test_no_query_name_collisions_across_modules():
    """Two modules exporting the same QUERIES key would silently shadow
    one another in the aggregated contract (dict.update last-wins) —
    the cross-module cousin of the _FRAMES_SCHEMA shadowing incident.
    Assert global uniqueness, and that every oracle key has a query."""
    import importlib

    import __spark_entry__ as e

    seen = {}
    for modname in e._MODULES:
        mod = importlib.import_module(modname)
        for k in getattr(mod, "QUERIES", {}):
            assert k not in seen, f"{k} defined in both {seen[k]} and {modname}"
            seen[k] = modname
    oracles = e.oracle_sql()
    orphans = sorted(set(oracles) - set(seen))
    assert not orphans, f"oracles without queries: {orphans}"


def test_collect_fails_loudly_on_missing_module(monkeypatch):
    """A stale or broken ``_MODULES`` entry must raise from ``_collect``
    rather than silently drop that module's queries from the contract."""
    import pytest

    import __spark_entry__ as e

    monkeypatch.setattr(
        e, "_MODULES", [*e._MODULES, "db_migrator_spark.operators.no_such_module"]
    )
    with pytest.raises(ModuleNotFoundError):
        e._collect()


def test_no_oracle_loss():
    """Every query that EVER hash-matched in a driver CORRECTNESS artifact
    must still declare an oracle. In round 7 five ORACLES entries were
    silently dropped by no-op string patches, degrading those queries to
    the weaker rows-only check — the tool-side guard in verify_oracle.py
    caught it late; this pytest makes the regression fail fast."""
    import glob
    import json

    import __spark_entry__ as e

    ever_oracled: set[str] = set()
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for k, v in data.items():
            if isinstance(v, dict) and v.get("err") != "no_oracle" and v.get("hash_match"):
                ever_oracled.add(k)
    qs = set(e.queries())
    oracles = set(e.oracle_sql())
    lost = sorted(ever_oracled & qs - oracles)
    assert not lost, f"oracles regressed to rows-only (previously hash-checked): {lost}"


def test_driver_window_budget():
    """Attestation-debt budget (VERDICT r8 next-step #7): the driver
    checks 50 queries per round, so (never-checked + latest-red) must
    stay within TWO windows (100) — and while the debt exceeds that
    budget, registering NEW queries is frozen outright. Round 8 added
    ~116 queries against the 50-slot window and never-checked ballooned
    21 -> 93; this test makes that process failure a red test instead
    of a verdict finding. "New" = any declared query absent from
    first_seen.json (regenerated when a round adds surface) or first
    seen after the newest CORRECTNESS round."""
    import glob
    import json
    import os
    import re

    import __spark_entry__ as e

    budget = 100  # two 50-slot driver windows
    last: dict[str, tuple[int, bool]] = {}
    newest = 0
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            green = v.get("err") == "no_oracle" or (
                bool(v.get("rows_match"))
                and bool(v.get("schema_match"))
                and v.get("hash_match") is not False
            )
            if k not in last or rnd >= last[k][0]:
                last[k] = (rnd, green)

    declared = set(e.queries())
    first_seen = e._first_seen()
    reds = {k for k, (_r, g) in last.items() if not g and k in declared}
    never = declared - set(last)
    new_this_round = {
        k for k in never
        if k not in first_seen or first_seen[k] > newest
    }
    debt = len(reds) + len(never - new_this_round)
    assert debt + len(new_this_round) <= max(budget, debt), (
        f"attestation debt {debt} (red {len(reds)} + never-checked "
        f"{len(never - new_this_round)}) already exceeds the {budget} "
        f"budget — new-query registration is frozen, but "
        f"{sorted(new_this_round)[:10]}... were added this round"
    )
    if debt <= budget:
        assert debt + len(new_this_round) <= budget, (
            f"adding {len(new_this_round)} new queries would push "
            f"attestation debt past {budget}: drain first "
            f"(drain schedule: __spark_entry__ module docstring)"
        )


def test_oracle_sql_independent_of_hash_seed():
    """The oracle text is part of the contract; two processes with
    different hash seeds must generate the same SQL."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import __spark_entry__ as e; "
        "sys.stdout.write(e.oracle_sql()['q_encoding_audit'])"
    )
    texts = []
    for seed in ("1", "2"):
        proc = subprocess.run(
            [sys.executable, "-c", code, root], capture_output=True, text=True,
            timeout=300, env={**os.environ, "PYTHONHASHSEED": seed},
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        texts.append(proc.stdout)
    assert texts[0] and texts[0] == texts[1]


def test_ship_package_fails_loudly():
    """A failed ``addPyFile`` must raise at session set-up, naming the zip,
    rather than surface later as a worker-side ModuleNotFoundError."""
    import types

    import pytest

    from db_migrator_spark import session

    class RefusingContext:
        def addPyFile(self, path):
            raise OSError("refused")

    sc = RefusingContext()
    with pytest.raises(RuntimeError, match=r"db_migrator_spark-[0-9a-f]{12}\.zip") as ei:
        session._ship_package(types.SimpleNamespace(sparkContext=sc))
    assert isinstance(ei.value.__cause__, OSError)
    assert not getattr(sc, "_db_migrator_pkg_shipped", False)
