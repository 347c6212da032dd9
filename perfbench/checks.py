"""Output checks that run outside the JVM, against DuckDB over the same
generated parquet tables. Each returns a list of problems (empty = pass).
"""
import glob
import os

import duckdb


def _connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def catalog(facts, data_dir):
    """Each oracled query's row count equals its DuckDB oracle's."""
    con = _connect(data_dir)
    problems = []
    counts = facts.get("row_counts", {})
    for name, sql in sorted(facts.get("oracle_sql", {}).items()):
        if name not in counts:
            problems.append(f"{name}: no row count recorded")
            continue
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if counts[name] != want:
            problems.append(f"{name}: {counts[name]} rows, the oracle {want}")
    return problems


def run(workload, facts, data_dir):
    check = {"catalog": catalog}.get(workload)
    return check(facts, data_dir) if check else []
