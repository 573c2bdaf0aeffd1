"""Degenerate inputs for the near-dup stages shared in operators/dedup.py.

Every query built on the shared shingle, signature, bucket-cap, vote,
candidate-join and verify stages runs on an EMPTY corpus and on a
ONE-document corpus. Queries with a DuckDB oracle must hash-match it
there (the same compare tools/verify_oracle.py runs); the two oracle-less
xxhash64 queries must return zero rows with their declared columns.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from tools.verify_oracle import table_hash

ORACLED = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_minhash_portable",
    "dedup_simhash_portable",
    "dedup_minhash_estimator_audit",
    "dedup_threshold_sweep",
    "similarity_lsh_portable",
]
ROWS_ONLY = {
    "dedup_minhash_lsh": ["d1", "d2", "est_jaccard", "jaccard"],
    "dedup_simhash": ["d1", "d2", "hamming", "jaccard"],
}


def _write_tables(root, texts: list[str], vectors: list[list[float]]) -> str:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["t"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(root / "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vectors)), pa.int64()),
                "embedding": pa.array(vectors, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vectors), pa.int32()),
            }
        ),
        str(root / "embeddings.parquet"),
    )
    return str(root)


@pytest.fixture(params=["empty", "one_row"])
def sf_dir(request, tmp_path):
    if request.param == "empty":
        return _write_tables(tmp_path, [], [])
    # One document whose 3-grams repeat (exercises the distinct shingle
    # set) and one embedding with mixed-sign components.
    return _write_tables(
        tmp_path,
        ["a rose is a rose is a rose"],
        [[(i % 7 - 3) / 10 for i in range(64)]],
    )


@pytest.mark.parametrize("name", ORACLED)
def test_degenerate_input_matches_oracle(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    scols, srows = df.columns, [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(entry.oracle_sql()[name])
    dcols, drows = [d[0] for d in res.description], res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert table_hash(scols, srows) == table_hash(dcols, drows), (srows, drows)


@pytest.mark.parametrize("name", sorted(ROWS_ONLY))
def test_degenerate_input_rows_only_is_empty(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    assert df.columns == ROWS_ONLY[name]
    assert df.collect() == []
