"""Seeded MSSQL-typed source catalog for the migrate workloads.

Writes ``<Table>.parquet`` plus a ``<Table>.constraints.json`` sidecar per
table, the layout ``ParquetExtractor`` reads as a stand-in for a live MSSQL
catalog. Every column type is an ``MssqlType`` (decimal and money,
datetime/datetime2/datetimeoffset, nvarchar with embedded quotes and
non-ASCII text, varbinary, bit, uniqueidentifier, int/bigint keys), and the
sidecars carry PRIMARY KEY, FOREIGN KEY, CHECK and DEFAULT constraints, so
the type registry, value rendering and the constraints phase all do real
work.

``UserAccounts`` and ``Orders`` (FK to ``UserAccounts.AccountId``) mirror
the reference's README run; the other tables have skewed sizes and
outnumber the migrator's pool slots, so tables queue for a slot.

Table sizes are fixed; the seed picks the values only, so runs on
different seeds do the same amount of work.

The analytics fixture's ``embeddings`` table (``array<float>``) has no MSSQL
analog; ``ParquetExtractor.get_table_schema`` refuses such a column, which
is correct behaviour, so no catalog here carries one.
"""

from __future__ import annotations

import json
import os
import uuid
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (table, share of the catalog's rows). Shares are skewed: the largest
# table holds 35% of the rows, the smallest 2%.
TABLES = [
    ("UserAccounts", 0.05),
    ("Orders", 0.15),
    ("OrderItems", 0.35),
    ("Payments", 0.18),
    ("Shipments", 0.12),
    ("AuditLog", 0.08),
    ("Sessions", 0.05),
    ("Products", 0.02),
]

_WORDS = [
    "order", "ship", "paid", "late", "refund", "gift", "rush", "bulk",
    "O'Brien", "d'Arc", "it's", "naïve", "café", "Zürich", "東京", "Ærø",
]
_EPOCH_US = 1_577_836_800_000_000  # 2020-01-01T00:00:00Z
_YEAR_US = 365 * 86_400 * 1_000_000


def _col(name, mssql, *, length=None, precision=None, scale=None,
         nullable=True, constraint=None) -> dict:
    return {
        "column_name": name,
        "data_type": mssql,
        "character_maximum_length": length,
        "numeric_precision": precision,
        "numeric_scale": scale,
        "is_nullable": nullable,
        "constraint": constraint,
    }


def _with_nulls(rng, values: list, share: float = 0.05) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def _text(rng, n: int, max_words: int) -> list[str]:
    counts = rng.integers(1, max_words + 1, n)
    picks = rng.integers(0, len(_WORDS), int(counts.sum()))
    out, i = [], 0
    for c in counts:
        out.append(" ".join(_WORDS[j] for j in picks[i:i + c]))
        i += c
    return out


def _dec(units: int, scale: int) -> Decimal:
    return Decimal(units).scaleb(-scale)


def _timestamps(rng, n: int, tz: str | None = None, step_us: int = 1) -> pa.Array:
    us = _EPOCH_US + rng.integers(0, _YEAR_US // step_us, n) * step_us
    return pa.array(us, pa.timestamp("us", tz=tz))


def _uuids(rng, n: int) -> list[str]:
    raw = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    return [str(uuid.UUID(bytes=bytes(r))) for r in raw]


def _varbinary(rng, n: int) -> list[bytes]:
    # Exactly 8 bytes: the packet workload's sqlite target reads the
    # rendered ``0x..`` literal as a 64-bit integer (MySQL reads a binary
    # string), and sqlite rejects hex literals wider than 64 bits.
    raw = rng.integers(0, 256, (n, 8), dtype=np.uint8)
    return [bytes(r) for r in raw]


def _generic_table(rng, name: str, n: int, ref_sizes: dict[str, int]):
    """A filler table: int PK, an FK to UserAccounts, and a spread of the
    MSSQL types the registry maps."""
    cols = [
        _col("ID", "int", nullable=False, constraint="PRIMARY KEY"),
        _col("AccountId", "int", nullable=False,
             constraint="FOREIGN KEY, UserAccounts, AccountId"),
        _col("Amount", "decimal", precision=12, scale=2,
             constraint="CHECK (Amount >= 0)"),
        _col("Fee", "money"),
        _col("Note", "nvarchar", length=-1),
        _col("Flag", "bit", nullable=False, constraint="DEFAULT 0"),
        _col("LoggedAt", "datetime", nullable=False),
        _col("UpdatedAt", "datetimeoffset"),
        _col("Token", "varbinary", length=8),
        _col("RowGuid", "uniqueidentifier", nullable=False),
    ]
    accounts = ref_sizes["UserAccounts"]
    data = {
        "ID": pa.array(np.arange(1, n + 1), pa.int32()),
        "AccountId": pa.array(rng.integers(1, accounts + 1, n), pa.int32()),
        "Amount": pa.array(
            _with_nulls(rng, [_dec(int(v), 2) for v in rng.integers(0, 10**9, n)]),
            pa.decimal128(12, 2)),
        "Fee": pa.array(
            _with_nulls(rng, [_dec(int(v), 4) for v in rng.integers(0, 10**8, n)]),
            pa.decimal128(19, 4)),
        "Note": pa.array(_with_nulls(rng, _text(rng, n, 12)), pa.string()),
        "Flag": pa.array(rng.random(n) < 0.3, pa.bool_()),
        # datetime keeps 1/300 s fragments; ms steps stay representable.
        "LoggedAt": _timestamps(rng, n, step_us=1000),
        "UpdatedAt": pa.array(
            _with_nulls(rng, _timestamps(rng, n, tz="UTC").to_pylist()),
            pa.timestamp("us", tz="UTC")),
        "Token": pa.array(_with_nulls(rng, _varbinary(rng, n)), pa.binary()),
        "RowGuid": pa.array(_uuids(rng, n), pa.string()),
    }
    return cols, data


def _user_accounts(rng, n: int, _sizes):
    cols = [
        _col("AccountId", "int", nullable=False, constraint="PRIMARY KEY"),
        _col("UserName", "nvarchar", length=100),
        _col("Email", "nvarchar", length=255, constraint="UNIQUE"),
        _col("IsActive", "bit", nullable=False, constraint="DEFAULT 1"),
        _col("Balance", "money"),
        _col("CreatedAt", "datetime2", nullable=False, constraint="DEFAULT getdate()"),
        _col("ExternalId", "uniqueidentifier"),
    ]
    names = _text(rng, n, 3)
    data = {
        "AccountId": pa.array(np.arange(1, n + 1), pa.int32()),
        "UserName": pa.array(_with_nulls(rng, names), pa.string()),
        "Email": pa.array([f"user{i}@example.com" for i in range(1, n + 1)], pa.string()),
        "IsActive": pa.array(rng.random(n) < 0.8, pa.bool_()),
        "Balance": pa.array(
            _with_nulls(rng, [_dec(int(v), 4) for v in rng.integers(0, 10**9, n)]),
            pa.decimal128(19, 4)),
        "CreatedAt": _timestamps(rng, n),
        "ExternalId": pa.array(_with_nulls(rng, _uuids(rng, n)), pa.string()),
    }
    return cols, data


def _orders(rng, n: int, sizes):
    cols = [
        _col("ID", "int", nullable=False, constraint="PRIMARY KEY"),
        _col("UserId", "int", nullable=False,
             constraint="FOREIGN KEY, UserAccounts, AccountId"),
        _col("TotalAmount", "money", precision=19, scale=4),
        _col("Notes", "nvarchar", length=-1),
        _col("CreatedAt", "datetime2", nullable=False, constraint="DEFAULT getdate()"),
        _col("Status", "nvarchar", length=20, constraint="CHECK (Status <> '')"),
    ]
    statuses = np.array(["new", "paid", "shipped", "it's late"], dtype=object)
    data = {
        "ID": pa.array(np.arange(1, n + 1), pa.int32()),
        "UserId": pa.array(rng.integers(1, sizes["UserAccounts"] + 1, n), pa.int32()),
        "TotalAmount": pa.array(
            _with_nulls(rng, [_dec(int(v), 4) for v in rng.integers(0, 10**10, n)]),
            pa.decimal128(19, 4)),
        "Notes": pa.array(_with_nulls(rng, _text(rng, n, 20), 0.2), pa.string()),
        "CreatedAt": _timestamps(rng, n),
        "Status": pa.array(statuses[rng.integers(0, len(statuses), n)].tolist(), pa.string()),
    }
    return cols, data


def _order_items(rng, n: int, sizes):
    cols = [
        _col("ID", "bigint", nullable=False, constraint="PRIMARY KEY"),
        _col("OrderID", "int", nullable=False, constraint="FOREIGN KEY, Orders, ID"),
        _col("LineTotal", "money", nullable=False),
        _col("Quantity", "int", nullable=False, constraint="CHECK (Quantity > 0)"),
        _col("Discount", "decimal", precision=5, scale=4),
        _col("ShippedAt", "datetimeoffset"),
    ]
    data = {
        "ID": pa.array(np.arange(1, n + 1), pa.int64()),
        "OrderID": pa.array(rng.integers(1, sizes["Orders"] + 1, n), pa.int32()),
        "LineTotal": pa.array([_dec(int(v), 4) for v in rng.integers(0, 10**8, n)],
                              pa.decimal128(19, 4)),
        "Quantity": pa.array(rng.integers(1, 50, n), pa.int32()),
        "Discount": pa.array(
            _with_nulls(rng, [_dec(int(v), 4) for v in rng.integers(0, 2000, n)]),
            pa.decimal128(5, 4)),
        "ShippedAt": pa.array(
            _with_nulls(rng, _timestamps(rng, n, tz="UTC").to_pylist(), 0.1),
            pa.timestamp("us", tz="UTC")),
    }
    return cols, data


_TABLE_MAKERS = {"UserAccounts": _user_accounts, "Orders": _orders, "OrderItems": _order_items}


def table_sizes(total_rows: int) -> dict[str, int]:
    return {name: max(1, int(total_rows * share)) for name, share in TABLES}


def generate(out_dir: str, seed: int, total_rows: int) -> dict[str, int]:
    """Write the catalog; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(total_rows)
    for i, (name, _share) in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        build = _TABLE_MAKERS.get(name)
        if build is None:
            cols, data = _generic_table(rng, name, sizes[name], sizes)
        else:
            cols, data = build(rng, sizes[name], sizes)
        pq.write_table(pa.table(data), os.path.join(out_dir, f"{name}.parquet"))
        with open(os.path.join(out_dir, f"{name}.constraints.json"), "w") as f:
            json.dump({"table_name": name, "columns": cols}, f)
    return sizes
