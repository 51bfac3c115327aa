"""Output checks on the op outputs the harness writes outside the timed region.

Registry entries with an oracle are compared with DuckDB running the
oracle SQL over the same generated tables, by the repository's oracle rule:
row count, column names, and exact values with columns sorted by name and
rows sorted by all columns (outputs with nested columns or an oracle with
decimal columns fail, as they do there). Entries without an oracle are
checked for running without error and for their row count (see run.py).
MapReduce outputs are fingerprinted and compared with the generator's own
counts.
"""
import json
import os
import zlib

import duckdb
import pyarrow.types as pat

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _nested(table):
    return [f.name for f in table.schema
            if pat.is_list(f.type) or pat.is_large_list(f.type)
            or pat.is_fixed_size_list(f.type) or pat.is_struct(f.type)
            or pat.is_map(f.type)]


def _read(con, path):
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").fetch_arrow_table()


def same_rows(got, exp):
    """None when the two arrow tables hold the same rows, else the reason."""
    g_cols, e_cols = sorted(got.column_names), sorted(exp.column_names)
    if g_cols != e_cols:
        return f"columns {g_cols} != {e_cols}"
    if got.num_rows != exp.num_rows:
        return f"rows {got.num_rows} != {exp.num_rows}"
    g = got.select(g_cols).to_pylist()
    e = exp.select(e_cols).to_pylist()

    def key(r):
        return tuple((v is None, str(type(v)), str(v)) for v in (r[c] for c in g_cols))
    g.sort(key=key)
    e.sort(key=key)
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return f"{len(bad)}/{len(g)} rows differ; e.g. got {bad[0][0]} exp {bad[0][1]}"
    return None


def registry(out_dir, data_dir):
    """{op: reason} for registry outputs that fail their oracle check, and
    {op: rows} for every registry output."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    fails, rows = {}, {}
    for name in sorted(os.listdir(os.path.join(out_dir, "check"))):
        try:
            got = _read(con, os.path.join(out_dir, "check", name))
            rows[name] = got.num_rows
            if name in oracle_sql:
                exp = con.execute(oracle_sql[name]).fetch_arrow_table()
                dec = [f.name for f in exp.schema if pat.is_decimal(f.type)]
                why = (f"nested output columns {_nested(got)}" if _nested(got) else
                       f"oracle decimal columns {dec}" if dec else same_rows(got, exp))
                if why:
                    fails[name] = f"oracle: {why}"
        except Exception as exc:  # a check that cannot run is a failed check
            fails[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
    return fails, rows


def mr_fingerprint(path):
    """(rows, sum of CRC32 over `key\\tvalue`) of a MapReduce output."""
    rows = duckdb.connect().execute(
        f"SELECT CAST(key AS VARCHAR), CAST(value AS VARCHAR) FROM '{path}/*.parquet'"
    ).fetchall()
    return len(rows), sum(zlib.crc32(f"{k}\t{v}".encode()) for k, v in rows)
