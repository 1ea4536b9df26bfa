"""Seeded inputs for the benchmark. The program only ever sees the parquet
files written here.

Replication fixture: a lineitem-shaped table with a surrogate unique bigint
key `rid`. TPC-H lineitem has no usable key of its own: in the sf0.1 corpus
(l_orderkey, l_linenumber) takes 456,861 distinct values over 600,000 rows,
so a merge on it fails with a duplicate key. A few rows are NULL in every
column but the key. Each delta set carries `update_share` rows that rewrite
existing keys and the rest as fresh keys, so one incremental sync both
updates and inserts.

Query corpus: the TPC-H-ish parquet tables a workload reads, copied with a
seeded 1 % of orders (and their lineitems) and of embeddings left out; the
queries and their DuckDB oracles do not depend on which rows are present.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# (column, DuckDB type, PostgreSQL type, Derby type). The DuckDB type is the
# canonical form every correctness check casts to before fingerprinting.
SCHEMA = [
    ("rid", "BIGINT", "bigint PRIMARY KEY", "BIGINT PRIMARY KEY"),
    ("l_orderkey", "BIGINT", "bigint", "BIGINT"),
    ("l_partkey", "BIGINT", "bigint", "BIGINT"),
    ("l_suppkey", "BIGINT", "bigint", "BIGINT"),
    ("l_linenumber", "INTEGER", "integer", "INTEGER"),
    ("l_quantity", "DOUBLE", "double precision", "DOUBLE"),
    ("l_extendedprice", "DOUBLE", "double precision", "DOUBLE"),
    ("l_discount", "DOUBLE", "double precision", "DOUBLE"),
    ("l_tax", "DOUBLE", "double precision", "DOUBLE"),
    ("l_returnflag", "VARCHAR", "text", "VARCHAR(1)"),
    ("l_linestatus", "VARCHAR", "text", "VARCHAR(1)"),
    ("l_shipdate", "DATE", "date", "DATE"),
    ("l_comment", "VARCHAR", "text", "VARCHAR(200)"),
]
COLUMNS = [c[0] for c in SCHEMA]
DUCK_TYPES = [c[1] for c in SCHEMA]


def ddl(dialect, table, upper):
    """CREATE TABLE of the replication sink; `dialect` is "pg" or "derby"."""
    i = {"pg": 2, "derby": 3}[dialect]
    cols = ", ".join(f"{c[0].upper() if upper else c[0]} {c[i]}" for c in SCHEMA)
    return f"CREATE TABLE {table} ({cols})"

WORDS = np.array("furiously quickly carefully blithely slyly ironic final "
                 "pending regular special express bold even silent ruthless "
                 "deposits accounts packages requests theodolites pinto beans "
                 "foxes instructions dependencies platelets asymptotes "
                 "across about above along among around".split())

ALL_NULL_ROWS = 4
PHRASES = 4096


def _phrases(rng):
    """Comment texts of two to four words."""
    words = WORDS[rng.integers(0, len(WORDS), (PHRASES, 4))]
    return pa.array([" ".join(w[: 2 + k]) for w, k in zip(words, rng.integers(0, 3, PHRASES))])


def _rows(rng, rids):
    n = len(rids)
    orderkey = rng.integers(1, 6_000_000, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    comment = pc.take(_phrases(rng), pa.array(rng.integers(0, PHRASES, n)))
    return {
        "rid": pa.array(rids, pa.int64()),
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 200_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 10_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(rng.integers(8036, 10592, n).astype("datetime64[D]"),
                               pa.date32()),
        "l_comment": comment,
    }


def _null_out(cols, mask):
    return {k: (v if k == "rid" else pc.if_else(pa.array(mask), pa.nulls(len(v), v.type), v))
            for k, v in cols.items()}


def _table(cols, upper):
    names = [c.upper() if upper else c for c in COLUMNS]
    return pa.table([cols[c] for c in COLUMNS], names=names)


def _write(table, path, pieces):
    """A directory of `pieces` parquet files, as Spark writes a dataset; the
    program reads it as `pieces` input partitions."""
    os.makedirs(path)
    step = -(-table.num_rows // pieces)
    for i in range(pieces):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def replication(out_dir, seed, rows, deltas, delta_rows, update_share, pieces, upper):
    """Write base.parquet and delta_<i>.parquet. Returns their paths."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = _rows(rng, np.arange(rows, dtype=np.int64))
    null_rids = rng.choice(rows, ALL_NULL_ROWS, replace=False)
    base = _null_out(base, np.isin(np.arange(rows), null_rids))
    base_path = os.path.join(out_dir, "base.parquet")
    _write(_table(base, upper), base_path, pieces)
    n_upd = int(round(delta_rows * update_share))
    n_ins = delta_rows - n_upd
    paths = []
    for i in range(deltas):
        upd = rng.choice(rows, n_upd, replace=False)
        ins = rows + i * n_ins + np.arange(n_ins, dtype=np.int64)
        rids = np.concatenate([upd, ins]).astype(np.int64)
        rng.shuffle(rids)
        p = os.path.join(out_dir, f"delta_{i}.parquet")
        _write(_table(_rows(rng, rids), upper), p, pieces)
        paths.append(p)
    return base_path, paths


def corpus(src_dir, out_dir, tables, seed, drop_share=0.01):
    """Copy `tables` of the TPC-H-ish corpus with a seeded share of rows left out."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def keep(table, key):
        ids = table.column(key).to_numpy()
        return table.filter(pa.array(rng.random(len(ids)) >= drop_share)), ids

    dropped_orders = None
    for name in sorted(f"{t}.parquet" for t in tables):
        t = pq.read_table(os.path.join(src_dir, name))
        if name == "orders.parquet":
            kept, ids = keep(t, "o_orderkey")
            dropped_orders = pa.array(np.setdiff1d(ids, kept.column("o_orderkey").to_numpy()))
            t = kept
        elif name == "embeddings.parquet":
            t, _ = keep(t, "vec_id")
        pq.write_table(t, os.path.join(out_dir, name))
    li = os.path.join(out_dir, "lineitem.parquet")
    if dropped_orders is not None and os.path.exists(li):
        t = pq.read_table(li)
        t = t.filter(pc.invert(pc.is_in(t.column("l_orderkey"), dropped_orders)))
        pq.write_table(t, li)
    return out_dir
