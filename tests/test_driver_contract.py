"""Mimics the external driver: run each __spark_entry__.queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf0.01 parquet, compare
row count, schema (column names), and exact values (order-insensitive)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("GRAFTPARK_TEST_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [c for _, c in sorted(zip(range(len(columns)), columns), key=lambda p: columns[p[0]])], out


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    got_df = q(spark, SF_DIR)
    got_cols = got_df.columns
    got_rows = [tuple(r) for r in got_df.collect()]
    if sql is None:
        assert len(got_rows) >= 0  # rows-only check
        return
    res = ddb.execute(sql)
    exp_cols = [d[0] for d in res.description]
    exp_rows = [tuple(r) for r in res.fetchall()]
    assert sorted(got_cols) == sorted(exp_cols), f"{name}: schema mismatch {got_cols} vs {exp_cols}"
    g_cols, g_rows = _normalize(got_rows, got_cols)
    e_cols, e_rows = _normalize(exp_rows, exp_cols)
    assert len(g_rows) == len(e_rows), f"{name}: row count {len(g_rows)} vs {len(e_rows)}"
    mismatches = [(a, b) for a, b in zip(g_rows, e_rows) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows, first: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    total = sum(r["rank"] for r in rows)
    assert math.isclose(total, 1.0, abs_tol=1e-4)


def test_pagerank_resume_leaves_no_checkpoint_dir(spark, tmp_path, monkeypatch):
    """``pagerank_resume`` removes the checkpoint dir it made; the ranks
    it returns are materialized and read none of it."""
    import tempfile

    from graftpark.driver_queries import q_pagerank_resume

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert q_pagerank_resume(spark, SF_DIR).count() > 0
    assert not [n for n in os.listdir(tmp_path) if n.startswith("graftpark-pr-resume-")]
