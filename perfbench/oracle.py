"""Expected-output digests from the registry's DuckDB oracles.

Each query's ``oracle_sql()`` twin runs on DuckDB over the generated
tables; its result is canonicalized with the repository's correctness
gate (``tools/check_correctness.py``: order-insensitive rows, lower-cased
column set, canonical column types) and reduced to a row count and a
SHA-256, which the worker compares against the collected Spark output.
"""

from __future__ import annotations

import hashlib
import json
import os


def digests(names: list[str], data_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """name -> {"rows", "cols", "types", "sha256", "sql_sha256"}, or
    {"error"} when the oracle itself fails.  Results are keyed by the
    SHA-256 of the oracle SQL text and kept beside the tables they were
    computed from, so each distinct oracle runs once per table set."""
    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    try:
        for name in names:
            sql = oracles.get(name)
            if sql is None:
                out[name] = {"error": "query has no oracle"}
                continue
            key = hashlib.sha256(sql.encode()).hexdigest()
            path = os.path.join(cache, f"{key}.json")
            if not os.path.exists(path):
                if con is None:
                    con = _connect(data_dir)
                tmp = f"{path}.tmp{os.getpid()}"
                with open(tmp, "w") as fh:
                    json.dump({**_digest(con, sql), "sql_sha256": key}, fh)
                os.replace(tmp, path)
            with open(path) as fh:
                out[name] = json.load(fh)
        return out
    finally:
        if con is not None:
            con.close()


def _connect(data_dir: str):
    import duckdb

    from nyc_taxi_data_warehouse_spark.plans.nyc_views import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _digest(con, sql: str) -> dict:
    import duckdb
    from check_correctness import canon_arrow_type

    from worker import result_digest

    try:
        tbl = con.execute(sql).arrow()
    except duckdb.Error as e:
        return {"error": f"duckdb: {e}"}
    rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    return result_digest(rows, tbl.schema.names,
                         [canon_arrow_type(f.type) for f in tbl.schema])
