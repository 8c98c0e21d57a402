"""Correctness checks run after the timed work.

Decl outputs are compared with their DuckDB oracles by the rule
scripts/check.py applies: the same column names, the same row count and
the same multiset of rows, each cell compared in its canonical text
form. The comparison runs inside DuckDB (EXCEPT ALL both ways) instead of
pandas, so million-row outputs check in seconds.
"""
import glob
import os

import duckdb
import numpy as np

from gen import FIXTURE_TABLES


def check_decls(data_dir, verify_dir, oracles, names):
    """{decl: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in FIXTURE_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
        if name not in oracles:
            out[name] = "no oracle"
            continue
        if not files:
            out[name] = "no output written"
            continue
        try:
            out[name] = _compare(con, os.path.join(verify_dir, name), oracles[name])
        except duckdb.Error as e:
            out[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
    return out


def _compare(con, out_dir, sql):
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
    g = sorted(c[0] for c in con.execute("DESCRIBE got").fetchall())
    w = sorted(c[0] for c in con.execute("DESCRIBE want").fetchall())
    if g != w:
        return f"columns spark={g} duckdb={w}"
    ng = con.execute("SELECT count(*) FROM got").fetchone()[0]
    nw = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if ng != nw:
        return f"rows spark={ng} duckdb={nw}"
    sel = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in g)
    diff = con.execute(f"""SELECT count(*) FROM (
        (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want)
        UNION ALL
        (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))""").fetchone()[0]
    return f"{diff} rows differ" if diff else None


def check_exactly_once(sink_dir, expected):
    """None when the sink holds each expected event id exactly once.
    DuckDB parses the sink's JSON lines and numpy compares the id sets,
    so millions of events check in a few seconds."""
    files = [p for p in sorted(glob.glob(os.path.join(sink_dir, "*")))
             if not os.path.basename(p).startswith(("_", ".")) and not os.path.isdir(p)]
    ids = np.zeros(0, dtype=np.int64)
    if files:
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        ids = con.execute("""SELECT data.event_id AS id FROM read_json(?,
                               format = 'newline_delimited',
                               columns = {data: 'STRUCT(event_id BIGINT)'})""",
                          [files]).fetchnumpy()["id"]
    got = np.unique(ids)
    want = np.unique(np.fromiter(expected, dtype=np.int64, count=len(expected)))
    dup = len(ids) - len(got)
    missing = len(np.setdiff1d(want, got, assume_unique=True))
    extra = len(np.setdiff1d(got, want, assume_unique=True))
    if dup or missing or extra:
        return f"sink rows {len(ids)}: {missing} missing, {dup} duplicated, {extra} unexpected"
    return None
