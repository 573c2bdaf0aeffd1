"""The three workloads: what one pass runs, and how its output is checked.

A pass returns the operations it attempted (tables or queries), the ones
that raised, and the rows it landed. ``check`` runs untimed after a pass and
returns the operations whose output is wrong.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import math
import os
import shutil
import sqlite3
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal

from . import catalog, fixture
from .trace import TableClock, TracedExtractor, TracedInserter, Tracer


@dataclass
class PassResult:
    wall: float
    attempted: list[str]
    failed: set[str] = field(default_factory=set)
    rows: dict[str, int] = field(default_factory=dict)
    latencies: dict[str, float] = field(default_factory=dict)
    # What the check reads: the target directory of a migrate pass, or the
    # DataFrames of an operators pass.
    target: object = None


# --------------------------------------------------------------- checksums

def _row_digest(parts: list[str]) -> int:
    h = hashlib.blake2b("\x1f".join(parts).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


class RowCanon:
    """Canonical text per target column, so a row read back from sqlite and
    the same row of the cast source (as Spark returns it) compare equal.

    sqlite stores decimals with NUMERIC affinity (REAL or INTEGER), keeps
    datetimes as text and reads the rendered ``0x..`` binary literal as a
    signed 64-bit integer."""

    def __init__(self, schema):
        from db_migrator_spark.common.mysql_types import MySqlBaseType as My

        self._fns = []
        for col in schema:
            t = col.data_type
            if t.base_type is My.DECIMAL:
                q = Decimal(1).scaleb(-(t.scale or 0))
                self._fns.append(lambda v, q=q: str(Decimal(str(v)).quantize(q)))
            elif t.base_type in (My.DATETIME, My.TIMESTAMP):
                self._fns.append(_canon_ts)
            elif t.base_type in (My.BINARY, My.VARBINARY, My.LONGBLOB):
                self._fns.append(_canon_bin)
            else:
                self._fns.append(str)

    def digest(self, row) -> int:
        return _row_digest(["\\N" if v is None else f(v) for f, v in zip(self._fns, row)])


def _canon_ts(v) -> str:
    if isinstance(v, str):
        v = dt.datetime.fromisoformat(v)
    return v.strftime("%Y-%m-%d %H:%M:%S.%f")


def _canon_bin(v) -> str:
    if isinstance(v, int):
        v = v.to_bytes(8, "big", signed=True)
    return bytes(v).hex()


def table_checksum(canon: RowCanon, rows) -> tuple[int, int]:
    """(row count, order-insensitive sum of row digests mod 2**64)."""
    n, total = 0, 0
    for r in rows:
        n += 1
        total = (total + canon.digest(r)) % (1 << 64)
    return n, total


# ---------------------------------------------------------- migrate passes

class Migrate:
    """``DatabaseMigrator.run()`` over the seeded catalog; every pass
    targets a fresh directory."""

    def __init__(self, work: str, rows: int, parallelism: int):
        self.work = work
        self.rows = rows
        self.parallelism = parallelism
        self.source = os.path.join(work, "source")
        self._pass_no = 0

    def prepare(self, seed: int) -> None:
        catalog.generate(self.source, seed, self.rows)

    def bind(self, spark) -> None:
        """Map the catalog's schemas; launches no Spark job, so the cold
        pass is the first Spark work in the process."""
        from db_migrator_spark.common.naming import format_snake_case
        from db_migrator_spark.migrate.schema_mapper import map_schema
        from db_migrator_spark.migrate.type_registry import TypeRegistry
        from db_migrator_spark.sources.parquet_source import ParquetExtractor

        self.spark = spark
        self.tracer = Tracer(spark.sparkContext)
        self.extractor = ParquetExtractor(spark, self.source)
        registry = TypeRegistry.with_defaults()
        self.sources, self.schemas = {}, {}
        for t in self.extractor.fetch_tables():
            out = format_snake_case(t)
            self.sources[out] = (t, self.extractor.get_table_schema(t))
            self.schemas[out] = map_schema(registry, t, self.sources[out][1], True)
        self._expected = None

    def cast_source(self, table: str):
        """The source table through the migrator's own cast plan."""
        from db_migrator_spark.migrate.migrator import DatabaseMigrator

        source_table, source_schema = self.sources[table]
        return DatabaseMigrator._apply_cast_plan(
            self.extractor.read_table(source_table), source_schema, self.schemas[table])

    @property
    def expected(self) -> dict[str, tuple[int, int]]:
        """Per-table (rows, checksum) of the cast source, computed at the
        first check."""
        if self._expected is None:
            self._expected = self.source_checksums()
        return self._expected

    def rows_landed(self, res: PassResult, bad: set[str]) -> int:
        return sum(n for t, n in res.rows.items() if t not in bad)

    def latency_samples(self, res: PassResult, bad: set[str]) -> list[float]:
        """One latency per table that landed correctly."""
        return [v for t, v in res.latencies.items() if t not in bad]

    def run_pass(self) -> PassResult:
        from db_migrator_spark.common.naming import format_snake_case
        from db_migrator_spark.migrate.migrator import DatabaseMigrator, MigrationOptions

        self._pass_no += 1
        target = os.path.join(self.work, f"target-{self._pass_no}")
        tables = TableClock(format_snake_case)
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            inserter = self.make_inserter(target)
            migrator = DatabaseMigrator(
                TracedExtractor(self.extractor, self.tracer, tables),
                TracedInserter(inserter, self.tracer, tables),
                options=MigrationOptions(all_tables=True, create_constraints=True,
                                         parallelism=self.parallelism),
            )
            attempted = sorted(self.schemas)
            try:
                with self.tracer.span("migrate.run", group=False, as_root=True), \
                        self._timed_map_schema():
                    results = migrator.run()
                rows = {r.table_name: r.rows_migrated for r in results}
                failed: set[str] = set()
            except Exception as err:  # a failed table is a counted failure
                skipped = set(getattr(err, "skipped_tables", []))
                rows, failed = {}, set(attempted)
                print(f"pass failed: {err!r} (skipped {sorted(skipped)})", file=sys.stderr)
        wall = time.perf_counter() - t0
        return PassResult(wall, attempted, failed, rows, dict(tables.latencies), target)

    @contextlib.contextmanager
    def _timed_map_schema(self):
        """Time ``map_schema`` through the name ``migrator.py`` imports it
        under, for a traced pass only."""
        from db_migrator_spark.migrate import migrator

        if not self.tracer.enabled:
            yield
            return
        inner = migrator.map_schema

        def timed(registry, table, *args, **kwargs):
            with self.tracer.span("migrate.map_schema", table, group=False):
                return inner(registry, table, *args, **kwargs)

        migrator.map_schema = timed
        try:
            yield
        finally:
            migrator.map_schema = inner

    def check(self, res: PassResult) -> set[str]:
        """Tables whose landed rows differ from the cast source."""
        expected = self.expected
        landed = [t for t in res.attempted if t not in res.failed]
        try:
            got = self.target_checksums(res.target, landed)
        except Exception:  # find the unreadable tables one by one
            got = {}
            for t in landed:
                try:
                    got.update(self.target_checksums(res.target, [t]))
                except Exception as err:
                    print(f"check of {t} failed: {err!r}", file=sys.stderr)
                    got[t] = None
        bad = {t for t, v in got.items() if v != expected[t]}
        bad |= {t for t, n in res.rows.items() if n != expected[t][0]}
        shutil.rmtree(res.target, ignore_errors=True)
        return bad


class MigrateCatalog(Migrate):
    """Spark's native parquet writer through ``ParquetInserter``."""

    def make_inserter(self, target):
        from db_migrator_spark.sinks.parquet_sink import ParquetInserter

        return ParquetInserter(self.spark, target)

    def _agg(self, frames: dict) -> dict[str, tuple[int, int]]:
        from functools import reduce

        from pyspark.sql import functions as F

        parts = [
            df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"))
            .select(F.lit(t).alias("t"), "n", "h")
            for t, df in frames.items()
        ]
        rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
        return {r.t: (r.n, int(r.h or 0)) for r in rows}

    def source_checksums(self):
        frames = {t: self.cast_source(t) for t in self.schemas}
        self.types = {t: df.schema for t, df in frames.items()}
        return self._agg(frames)

    def target_checksums(self, target, tables):
        """Read back with the cast source's schema, which skips footer
        inference; a target written with other types fails the read."""
        if not tables:
            return {}
        return self._agg({t: self.spark.read.schema(self.types[t])
                          .parquet(os.path.join(target, t)) for t in tables})


class MigratePackets(Migrate):
    """The reference's own data path: byte-budget INSERT packets executed
    transactionally into stdlib sqlite, one database file per table."""

    def bind(self, spark) -> None:
        sc = spark.sparkContext
        self.acc = {
            "packets": sc.accumulator(0),
            "bytes": sc.accumulator(0),
            "execute_s": sc.accumulator(0.0),
            "execute_failed": sc.accumulator(0),
        }
        super().bind(spark)

        from db_migrator_spark.migrate.migrator import DEFAULT_MAX_PACKET_BYTES

        self.max_packet_bytes = DEFAULT_MAX_PACKET_BYTES
        self.last_packets: dict[str, float] = {}
        self._render_sample = None

    def make_inserter(self, target):
        return SqlitePacketInserter(target, self.acc, self.max_packet_bytes)

    def run_pass(self) -> PassResult:
        before = {k: a.value for k, a in self.acc.items()}
        res = super().run_pass()
        d = {k: a.value - before[k] for k, a in self.acc.items()}
        self.last_packets = {
            "sinks.packets": d["packets"],
            "sinks.packet_fill": d["bytes"] / d["packets"] / self.max_packet_bytes
            if d["packets"] else 0.0,
            "sinks.execute_s": d["execute_s"],
            "sinks.execute_failed": d["execute_failed"],
        }
        return res

    def packet_metrics(self) -> dict[str, float]:
        return dict(self.last_packets)

    def time_render(self) -> float:
        from db_migrator_spark.sinks.byte_budget import render_row

        if self._render_sample is None:  # a fixed sample: 200 rows per table
            self._render_sample = [tuple(r) for t in sorted(self.schemas)
                                   for r in self.cast_source(t).limit(200).collect()]
        t0 = time.perf_counter()
        for r in self._render_sample:
            render_row(r)
        return time.perf_counter() - t0

    def source_checksums(self):
        out = {}
        for t in self.schemas:
            out[t] = table_checksum(RowCanon(self.schemas[t]), self.cast_source(t).collect())
        return out

    def target_checksums(self, target, tables):
        out = {}
        for t in tables:
            conn = sqlite3.connect(os.path.join(target, f"{t}.db"))
            try:
                rows = conn.execute(f'SELECT * FROM "{t}"')
                out[t] = table_checksum(RowCanon(self.schemas[t]), rows)
            finally:
                conn.close()
        return out


def packet_executor(db_path: str, acc: dict):
    """The per-packet callback ``write_with_byte_budget`` calls on Python
    workers: one connection per packet, the reference's transaction with
    no FK toggles (sqlite has none to toggle)."""
    from db_migrator_spark.sinks.dbapi_sink import execute_transactional

    packets, nbytes = acc["packets"], acc["bytes"]
    execute_s, failed = acc["execute_s"], acc["execute_failed"]

    def execute(statement: str) -> None:
        t0 = time.perf_counter()
        conn = sqlite3.connect(db_path, timeout=60)
        try:
            execute_transactional(conn, statement, fk_off=None, fk_on=None)
        except Exception:
            failed.add(1)
            raise
        finally:
            conn.close()
            execute_s.add(time.perf_counter() - t0)
        packets.add(1)
        nbytes.add(len(statement))

    return execute


class SqlitePacketInserter:
    """Inserter adapter: DDL into sqlite, data through
    ``sinks.byte_budget.write_with_byte_budget`` with the default 1 MiB
    packet budget. Constraint DDL is built and recorded, as
    ``ParquetInserter`` does; sqlite cannot ALTER TABLE ADD a constraint."""

    def __init__(self, target_dir: str, acc: dict, max_packet_bytes: int):
        self.target_dir = target_dir
        self.acc = acc
        self.max_packet_bytes = max_packet_bytes
        self.executed_ddl: list[str] = []
        os.makedirs(target_dir, exist_ok=True)

    def _db(self, table: str) -> str:
        return os.path.join(self.target_dir, f"{table}.db")

    def list_tables(self) -> list[str]:
        return sorted(f[:-3] for f in os.listdir(self.target_dir) if f.endswith(".db"))

    def table_exists(self, table: str) -> bool:
        return os.path.exists(self._db(table))

    def table_rows_count(self, table: str) -> int:
        conn = sqlite3.connect(self._db(table), timeout=60)
        try:
            return conn.execute(f'SELECT COUNT(*) FROM "{table}"').fetchone()[0]
        finally:
            conn.close()

    def reset_tables(self, tables, action) -> None:
        from db_migrator_spark.migrate import ddl

        if tables:
            self.executed_ddl.append(ddl.build_reset_query(tables, action))
        for t in tables:
            os.remove(self._db(t))

    def create_table(self, table: str, schema) -> None:
        from db_migrator_spark.migrate import ddl

        stmt = ddl.build_create_table_query(table, schema)
        self.executed_ddl.append(stmt)
        conn = sqlite3.connect(self._db(table), timeout=60)
        try:
            conn.execute("PRAGMA journal_mode=WAL")
            conn.execute(stmt)
            conn.commit()
        finally:
            conn.close()

    def write_table(self, df, table: str, schema) -> int:
        from db_migrator_spark.sinks.byte_budget import write_with_byte_budget

        write_with_byte_budget(df, table, schema, self.max_packet_bytes,
                               packet_executor(self._db(table), self.acc))
        return self.table_rows_count(table)

    def create_constraints(self, table, schema, migrated_tables) -> None:
        from db_migrator_spark.migrate import ddl

        stmt = ddl.build_create_constraints(table, schema, migrated_tables)
        if stmt is not None:
            self.executed_ddl.append(stmt)

    def max_allowed_packet(self):
        return None


# ------------------------------------------------------------ operators

# Two queries whose wall is mostly construction (eager jobs inside the
# query function) and two whose wall is mostly execution, as measured on
# this fixture (README.md). All four have DuckDB oracle twins. A pass over
# more of the registered queries does not fit the run budget.
CONSTRUCT_BOUND = ["q_customer_rfm", "graph_kcore"]
EXECUTE_BOUND = ["q1_pricing_summary", "text_ngram_vocab"]
QUERIES = CONSTRUCT_BOUND + EXECUTE_BOUND
PHASES = ("analysis", "optimization", "planning")


# The value hash of the repository's oracle gate (tools/verify_oracle.py).
# That module puts a fixed path on sys.path when imported, so the two
# functions are repeated here rather than imported.
def _norm(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else repr(val)
    if isinstance(val, (dt.datetime, dt.date)):
        return val.isoformat()
    if isinstance(val, list):
        return "[" + ",".join(_norm(v) for v in val) + "]"
    if isinstance(val, (bytes, bytearray)):
        return val.hex()
    return str(val)


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive value hash: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for s in lines:
        h.update(s.encode() + b"\n")
    return h.hexdigest()[:16]


class Operators:
    """Four registered queries: the query function, ``executedPlan()``, then a
    ``noop`` write, each query in turn."""

    def __init__(self, work: str, scale: float):
        self.work = work
        self.scale = scale
        self.sf_dir = os.path.join(work, "fixture")

    def prepare(self, seed: int) -> None:
        self.input_rows = sum(fixture.generate(self.sf_dir, seed, self.scale).values())

    def rows_landed(self, res: PassResult, bad: set[str]) -> int:
        """Fixture rows read: a pass reads the whole fixture once."""
        return self.input_rows if not bad else 0

    def latency_samples(self, res: PassResult, bad: set[str]) -> list[float]:
        """The mean query latency of the pass. The queries' latencies differ
        by 10x, so their median is whichever query sits in the middle, which
        changes from seed to seed; the mean is a stable statistic."""
        ok = [v for q, v in res.latencies.items() if q not in bad]
        return [sum(ok) / len(ok)] if ok else []

    def bind(self, spark) -> None:
        import duckdb

        import __spark_entry__

        self.spark = spark
        self.tracer = Tracer(spark.sparkContext)
        self.query_fns = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        self.expected: dict[str, tuple[int, str]] = {}
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}.parquet'")
            for q in QUERIES:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.expected[q] = (len(rows), result_hash(cols, rows))
        finally:
            con.close()

    def run_pass(self) -> PassResult:
        t0 = time.perf_counter()
        res = PassResult(0.0, list(QUERIES))
        res.target = {}
        self.phases = {p: 0.0 for p in PHASES}
        with self.tracer.span("pass"):
            for q in QUERIES:
                q0 = time.perf_counter()
                try:
                    with self.tracer.span("operators.construct", q):
                        df = self.query_fns[q](self.spark, self.sf_dir)
                    with self.tracer.span("catalyst.plan", q):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    with self.tracer.span("execute.query", q):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as err:  # a failed query is a counted failure
                    print(f"query {q} failed: {err!r}", file=sys.stderr)
                    res.failed.add(q)
                    continue
                res.latencies[q] = time.perf_counter() - q0
                res.target[q] = df
                if self.tracer.enabled:
                    phases = qe.tracker().phases()
                    for p in PHASES:
                        opt = phases.get(p)
                        if opt.isDefined():
                            self.phases[p] += opt.get().durationMs()
        res.wall = time.perf_counter() - t0
        return res

    def check(self, res: PassResult) -> set[str]:
        """Queries whose result differs from the DuckDB oracle twin."""
        bad = set()
        for q, df in res.target.items():
            rows = df.collect()
            res.rows[q] = len(rows)
            if (len(rows), result_hash(df.columns, rows)) != self.expected[q]:
                bad.add(q)
        res.target = None
        return bad
