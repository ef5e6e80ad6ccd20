"""Driver-contract guard: every oracle-checked queries() entry matches
its oracle_sql() on DuckDB at sf0.001 (the driver runs the same
comparison at sf0.01 — scripts/check_contract.py mirrors it exactly)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


@pytest.fixture(scope="module")
def oracle_result(duck):
    """Oracle result by SQL text, computed once per module: several
    queries share one oracle (e.g. the three dedup_incremental variants,
    whose recursive-CTE oracle is the slowest statement in the suite),
    and an oracle is a pure function of the fixed sf0.001 tables."""
    cache: dict[str, pd.DataFrame] = {}

    def run(sql: str) -> pd.DataFrame:
        if sql not in cache:
            cache[sql] = duck.execute(sql).df()
        return cache[sql].copy()

    return run


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object and s.notna().any() and isinstance(
            s.dropna().iloc[0], (list, np.ndarray)
        ):
            df[c] = s.map(lambda a: None if a is None else tuple(a))
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


ORACLE_CHECKED = sorted(entrymod.oracle_sql())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, oracle_result, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    exp = oracle_result(entrymod.oracle_sql()[name])
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp)
    g, e = canon(got), canon(exp)
    pd.testing.assert_frame_equal(g, e, check_dtype=False)


@pytest.mark.parametrize("name", [n for n in ROWS_ONLY if n != "exactly_once_reapply_noop"])
def test_rows_only_queries_execute(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0  # runs and has a stable schema
    assert len(df.columns) > 0


def test_exactly_once_query_reports_noop(spark):
    row = entrymod.queries()["exactly_once_reapply_noop"](spark, SF_DIR).collect()[0]
    assert row["reapply_noop"] and row["state_unchanged"]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "key" in df.columns
