"""SparkSession factory + session normalization.

Two entry paths:

- ``get_spark()``   — build our own tuned local session (tests, bench).
- ``configure(s)``  — apply the *dynamic* subset of that tuning to a session
  somebody else built (the correctness driver passes us its own session).

Scale notes (100 TB): every config here is either per-session-dynamic or a
sizing default that a cluster deployment overrides. AQE owns runtime
re-planning (partition coalescing, skew-join splitting); shuffle partitions
default to cores locally but should be ~2-3x total executor cores on a real
cluster (or left to AQE's initialPartitionNum).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Dynamic (settable on a live session) confs we require for correctness.
_DYNAMIC_CONF = {
    # DuckDB oracle comparisons assume UTC-naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns type —
    # read as long and convert explicitly (io.load_table does the convert).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing, skew splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # WITH RECURSIVE working-set guardrail. The default (1M rows) is a
    # toy-scale tripwire: recursion volume is |seed rows| x depth, so a
    # 200k-part hierarchy walk already exceeds it (found by the sf1 10x
    # gate). Size it like a real deployment — bounded but generous;
    # UnionLoopExec materializes per-step, so this caps accumulation,
    # not a single in-memory batch.
    "spark.sql.cteRecursionRowLimit": "100000000",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``db_migrator_spark`` importable on Python workers.

    An external driver may launch its session from any cwd; the driver-side
    ``sys.path`` tweak in ``__spark_entry__`` does not reach the forked
    Python workers, so any pandas_udf / mapInPandas that unpickles a
    function from this package raises ModuleNotFoundError there. Shipping a
    zip of the package via ``addPyFile`` fixes that for local and cluster
    mode alike (workers get the archive on their sys.path).
    """
    sc = spark.sparkContext
    if getattr(sc, "_db_migrator_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                members.append(os.path.join(root, f))
    digest = hashlib.sha256()
    for path in sorted(members):
        digest.update(path.encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    # Content-hashed name: addPyFile refuses same-name-different-contents.
    zip_path = os.path.join(
        tempfile.gettempdir(), f"db_migrator_spark-{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        # Per-process tmp name: two sessions starting concurrently must
        # not share one build file (a shared ".tmp" raced — the first
        # os.replace made the second's source vanish mid-rename).
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for path in members:
                arcname = os.path.join(
                    "db_migrator_spark", os.path.relpath(path, pkg_dir)
                )
                zf.write(path, arcname)
        os.replace(tmp, zip_path)
    try:
        sc.addPyFile(zip_path)
    except Exception as e:  # swallowed, it resurfaces as a worker ModuleNotFoundError
        raise RuntimeError(
            f"could not ship db_migrator_spark to Python workers: addPyFile({zip_path!r}) failed"
        ) from e
    sc._db_migrator_pkg_shipped = True


def configure(spark: SparkSession) -> SparkSession:
    """Apply required dynamic confs to an externally provided session."""
    _ship_package(spark)
    for k, v in _DYNAMIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-fatal: a locked-down session may refuse; queries that do
            # not touch the affected feature still work.
            pass
    try:
        # A vanilla session ships 200 shuffle partitions — pure overhead on
        # a single-node driver run. Right-size once to the local cores
        # (AQE still coalesces below this at runtime).
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(os.cpu_count() or 8))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "db-migrator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned SparkSession.

    local[N] = one JVM, N executor threads; ``spark.driver.memory`` is the
    only memory knob that matters there. On a real cluster the same code
    runs unchanged — only master/memory/partition sizing differ.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = n if n > 0 else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # 128 MiB input splits: good default for parquet at any scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in _DYNAMIC_CONF.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
