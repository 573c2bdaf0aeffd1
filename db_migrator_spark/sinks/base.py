"""Inserter protocol — the target-side seam (reference:
``src/insert/inserter.rs`` public surface + ``src/migrate/tests.rs:92-182``
MockInserter)."""

from __future__ import annotations

from typing import Callable, Protocol, runtime_checkable

from pyspark.sql import DataFrame, Observation, functions as F

from ..common.schema import TargetColumn
from ..migrate.ddl import TableAction


@runtime_checkable
class Inserter(Protocol):
    def list_tables(self) -> list[str]:
        """Existing target tables (SHOW TABLES analog)."""
        ...

    def table_exists(self, table: str) -> bool: ...

    def table_rows_count(self, table: str) -> int: ...

    def reset_tables(self, tables: list[str], action: TableAction) -> None:
        """DROP or TRUNCATE the given existing tables."""
        ...

    def create_table(self, table: str, schema: list[TargetColumn]) -> None: ...

    def write_table(self, df: DataFrame, table: str, schema: list[TargetColumn]) -> int:
        """Append df's rows; returns rows written. The Spark-writer sinks
        count them in the write job itself (``write_counted``) rather than
        reading the target back."""
        ...

    def create_constraints(self, table: str, schema: list[TargetColumn],
                           migrated_tables: list[str]) -> None:
        """Post-data constraint DDL; best-effort (failure logs, never raises)."""
        ...

    def max_allowed_packet(self) -> int | None:
        """Target's max packet budget, if it has one (None = unlimited)."""
        ...


def write_counted(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write`` on ``df`` and return the rows that write job saw.

    The count rides the write as an observed metric, so a table costs one
    Spark job and no read of the target. The ``Observation`` is unnamed and
    fresh per call: tables write concurrently from the migrator's pool, and
    an ``Observation`` serves exactly one action.
    """
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]
