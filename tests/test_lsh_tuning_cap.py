"""q_lsh_tuning applies the LSH hot-bucket cap on both sides.

The Spark pipeline drops band buckets of more than ``_MAX_BUCKET``
members before it generates candidate pairs. The DuckDB oracle must drop
the same buckets, or the two disagree as soon as one bucket grows past
the cap. The test plants such a bucket in a copy of sf0.001 and checks
that Spark and the oracle still agree.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from nyc_taxi_data_warehouse_spark import queries_data as qd
from nyc_taxi_data_warehouse_spark.plans.nyc_views import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from check_correctness import canon  # noqa: E402

# md5("hot bucket w278741#0") starts with 0000009d, so this shingle is
# the minimum of hash h0 in every doc that contains it: all those docs
# (and their truncated twins, which keep the trailing shingle) land in
# one band bucket of the r=1 config.
MAGIC = "hot bucket w278741"
N_PLANTED = 600  # + 600 twins = 1200 members, above the cap of 1000


def _h0(text: str) -> str:
    w = text.split()
    grams = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    return min(hashlib.md5(f"{g}#0".encode()).hexdigest()[:8] for g in grams)


def _in_sample(doc_id: int) -> bool:
    h = hashlib.md5(f"{doc_id}{qd._LSH_TUNE_SALT}".encode()).hexdigest()
    return int(h[:8], 16) % 100 < qd._LSH_TUNE_PCT


def _planted_dir(src: str, dst: str) -> None:
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    docs = pq.read_table(f"{src}/documents.parquet")
    ids, texts = [], []
    doc_id = 600000
    while len(ids) < N_PLANTED:
        if _in_sample(doc_id):
            ids.append(doc_id)
            # unique filler words, so planted docs share no other shingle
            texts.append(" ".join(f"{c}{doc_id}" for c in "pqrst") + " " + MAGIC)
        doc_id += 1
    planted = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["src0"] * len(ids),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    ).cast(docs.schema)
    pq.write_table(pa.concat_tables([docs, planted]), f"{dst}/documents.parquet")
    magic_h0 = hashlib.md5(f"{MAGIC}#0".encode()).hexdigest()[:8]
    members = sum(_h0(t) == magic_h0 for t in texts)
    members += sum(_h0(t[30:]) == magic_h0 for t in texts)  # the twins
    assert members > qd._MAX_BUCKET, members


def test_lsh_tuning_caps_hot_bucket_in_spark_and_oracle(spark, sf_dir, tmp_path):
    _planted_dir(sf_dir, str(tmp_path))
    got = qd.q_lsh_tuning(spark, str(tmp_path))
    s_cols = [c.lower() for c in got.columns]
    s_rows = [tuple(r) for r in got.collect()]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    cur = con.execute(qd._sql_lsh_tuning())
    d_cols = [d[0].lower() for d in cur.description]
    d_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(d_cols)
    assert canon(s_rows, s_cols) == canon(d_rows, d_cols)
