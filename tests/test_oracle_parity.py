"""t2 — local replica of the driver's correctness gate: every queries()
entry with an oracle_sql() twin must match DuckDB on row count, schema
arity, and order-insensitive values at sf0.01."""

import json
import math
import os
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(val):
    if val is None:
        return None
    if isinstance(val, bool):
        return int(val)
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        # driver-style canonicalization: floats to 6 significant-ish places
        return round(val, 6)
    if isinstance(val, int):
        return val
    return str(val)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    )


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ORACLES[name])
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    mism = [(a, b) for a, b in zip(s_set, d_set) if a != b]
    assert s_set == d_set, f"{name}: first mismatches {mism[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_query_order_puts_never_attested_first():
    """The external correctness run attests a prefix of queries():
    every name with no green row in a checked-in CORRECTNESS_r*.json
    must precede every attested one, and oracle_sql() must list the
    same order."""
    green = set()
    for path in Path(entry_mod.__file__).parent.glob("CORRECTNESS_r*.json"):
        for name, row in json.loads(path.read_text()).items():
            if row["rows_match"] and row["hash_match"] and row["err"] is None:
                green.add(name)
    assert green, "no attestation history found"
    names = list(QUERIES)
    assert list(ORACLES) == names
    never = [n for n in names if n not in green]
    assert names[:len(never)] == never


def test_query_registry_rejects_duplicates_and_bad_names():
    def q_text_stats(spark, sf_dir):
        raise AssertionError("never built")

    def text_stats_v2(spark, sf_dir):
        raise AssertionError("never built")

    for builder in (q_text_stats, text_stats_v2):
        with pytest.raises(ValueError):
            entry_mod.query("SELECT 1")(builder)
    assert entry_mod.queries()["text_stats"] is not q_text_stats
