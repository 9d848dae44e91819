"""Output checks against DuckDB.

The compare is the one of ``tools/check.py``, whose functions it imports:
both sides go through DuckDB's pandas conversion and ``canon_df`` (columns
sorted by name, rows sorted over all columns), pandas dtype kinds must agree
(int vs float is a mismatch), and every value must pass ``eq``'s 1e-9
tolerance. Outputs with no oracle SQL get the rows-only check (at least one
row).
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import canon_df, eq  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(s):
    k = s.dtype.kind
    return "i" if k == "u" else k


def compare(name, got, want):
    """None if equal within tolerance, else a one-line reason (the FAIL
    cases of tools/check.py)."""
    try:
        got, want = canon_df(got, name, "spark"), canon_df(want, name, "oracle")
    except RuntimeError as e:
        return str(e)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    bad = [(c, str(got[c].dtype), str(want[c].dtype))
           for c in got.columns if _kind(got[c]) != _kind(want[c])]
    if bad:
        return f"pandas dtype mismatch: {bad}"
    gv, wv = got.to_numpy(dtype=object), want.to_numpy(dtype=object)
    for rg, rw in zip(gv, wv):
        for vg, vw in zip(rg, rw):
            if not eq(vg, vw)[1]:
                return f"values beyond tolerance, e.g. {vg!r} != {vw!r}"
    return None


def _spark_output(con, check, name):
    files = glob.glob(os.path.join(check, name, "*.parquet"))
    if not files:
        return None
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


def check_queries(data, check, ops, oracle_sql):
    """Check each query's output against its oracle SQL over `data`."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for name in ops:
        got = _spark_output(con, check, name)
        if got is None:
            bad.append((name, "no output"))
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            if len(got) == 0:
                bad.append((name, "no rows (rows-only check)"))
            continue
        try:
            want = con.sql(sql).df()
        except Exception as e:  # an oracle error is a failed check
            bad.append((name, f"oracle error: {e}"))
            continue
        why = compare(name, got, want)
        if why:
            bad.append((name, why))
    return bad


def check_etl(lake, check, oracle_sql):
    """The refined table read back through the catalog, and the consumer
    aggregate, against DuckDB running the flagship oracle on the lake."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{lake}/events.parquet/*.parquet')")
    con.sql(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{lake}/customer.parquet')")
    con.sql(f"CREATE TABLE refined AS {oracle_sql['etl_refined']}")
    bad = []
    for name, sql in (("etl_refined", "SELECT * FROM refined"),
                      ("etl_consumer", oracle_sql["etl_consumer"])):
        got = _spark_output(con, check, name)
        why = "no output" if got is None else compare(name, got, con.sql(sql).df())
        if why:
            bad.append((name, why))
    return bad
