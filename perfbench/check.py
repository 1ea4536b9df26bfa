"""Correctness checks, run after the timed region.

Replication: the expected final sink state is computed here in plain SQL
(base table, then each delta replaces the rows with its keys and adds the
rest), independently of the program's merge. The sink's rows, read back
without the program, and the program's own extract must both match it in
row count and in an order-free content fingerprint.

Queries: each result the program returned is compared with the repo's
DuckDB oracle SQL run over the same staged corpus, with the comparison
rules of the repo's oracle gate (columns by name, rows sorted, timestamps
floored to microseconds).
"""
import glob
import json
import os

import duckdb
import pandas as pd

from fixtures import COLUMNS, DUCK_TYPES

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def _canon(rel_sql, names):
    cols = ", ".join(f'CAST("{n}" AS {t}) AS {c}'
                     for n, t, c in zip(names, DUCK_TYPES, COLUMNS))
    return f"SELECT {cols} FROM ({rel_sql})"


def _fingerprint(con, sql):
    h = ", ".join(COLUMNS)
    n, fp = con.execute(f"SELECT count(*), sum(hash({h})::HUGEINT) FROM ({sql})").fetchone()
    return int(n), str(fp)


def _parquet(path, names):
    return _canon(f"SELECT * FROM read_parquet({os.path.join(path, '*.parquet')!r})", names)


def replication(base, deltas, upper, sink_csv, extract_dir):
    """Returns a list of problems (empty when the sink and extract are right)."""
    names = [c.upper() if upper else c for c in COLUMNS]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE expected AS {_parquet(base, names)}")
    for d in deltas:
        con.execute(f"CREATE OR REPLACE TEMP TABLE d AS {_parquet(d, names)}")
        con.execute("DELETE FROM expected WHERE rid IN (SELECT rid FROM d)")
        con.execute("INSERT INTO expected SELECT * FROM d")
    want = _fingerprint(con, "SELECT * FROM expected")
    csv_cols = "{" + ", ".join(f"'{n}': '{t}'" for n, t in zip(names, DUCK_TYPES)) + "}"
    got = {
        "sink": _fingerprint(con, _canon(
            f"SELECT * FROM read_csv({sink_csv!r}, header=false, columns={csv_cols})", names)),
        "extract": _fingerprint(con, _parquet(extract_dir, names)),
    }
    return [f"{what}: (rows, fingerprint) {g} != expected {want}"
            for what, g in got.items() if g != want]


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.floor("us").astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(s, o):
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != oracle {list(o.columns)}"
    if len(s) != len(o):
        return f"{len(s)} rows != oracle {len(o)}"
    for c in s.columns:
        if s[c].dtype != o[c].dtype:
            return f"dtype[{c}] {s[c].dtype} != oracle {o[c].dtype}"
        if not s[c].equals(o[c]):
            neq = (s[c].astype(object) != o[c].astype(object)) & ~(s[c].isna() & o[c].isna())
            if neq.any():
                return f"{int(neq.sum())} values of {c} differ from the oracle"
    return None


def queries(corpus_dir, results_dir):
    """Returns (queries checked, problems), one problem per wrong result."""
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({p!r})")
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    problems = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no result")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        try:
            want = con.execute(sql).df()
        except duckdb.Error as e:
            problems.append(f"{name}: oracle SQL failed: {e}")
            continue
        diff = _compare(_normalize(got), _normalize(want))
        if diff:
            problems.append(f"{name}: {diff}")
    return len(oracles), problems
