"""Scale-probe grower: a 2× copy of the tiny testdata has exactly 2× fact
rows, each replica on its own disjoint keys, byte-identical dimensions,
the source's column types, and the real registry queries run on it."""

from __future__ import annotations

import filecmp
import importlib.util
import os

import pytest

import __spark_entry__ as entry
from nyc_taxi_data_warehouse_spark.plans.nyc_views import load_tables

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "tools", "scale_probe.py"
)
_spec = importlib.util.spec_from_file_location("scale_probe", _TOOL)
scale_probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale_probe)

# unique in the source except l_orderkey, whose distinct count must double
KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
}


@pytest.fixture(scope="module")
def grown(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("probe"))
    return scale_probe.grow_dir(spark, sf_dir, 2, root=root)


def test_grown_dir_is_keyed_by_source_and_reused(spark, sf_dir, grown):
    root = os.path.dirname(os.path.dirname(grown))
    assert scale_probe.grow_dir(spark, sf_dir, 2, root=root) == grown
    assert os.path.exists(os.path.join(grown, "_COMPLETE"))
    other = scale_probe._grown_dir(sf_dir + "_elsewhere", 2, root)
    assert other != grown


def test_fact_tables_double_with_disjoint_keys(spark, sf_dir, grown):
    for t, keys in KEYS.items():
        src = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        out = spark.read.parquet(f"{grown}/{t}.parquet")
        assert out.dtypes == src.dtypes, t
        assert out.count() == 2 * src.count(), t
        n_keys = src.select(*keys).distinct().count()
        assert out.select(*keys).distinct().count() == 2 * n_keys, t


def test_dimension_tables_are_byte_identical(sf_dir, grown):
    dims = set(scale_probe.TABLES) - set(scale_probe.GROWERS)
    assert dims == {"region", "nation", "customer", "supplier", "part"}
    for t in dims:
        assert filecmp.cmp(
            f"{sf_dir}/{t}.parquet", f"{grown}/{t}.parquet", shallow=False
        ), t


def test_grown_content_is_shifted_not_duplicated(spark, grown):
    t = load_tables(spark, grown)
    assert dict(t["events"].dtypes)["ts"].startswith("timestamp")
    d = t["documents"]
    assert d.where("n_chars != length(text)").count() == 0
    assert d.select("text").distinct().count() > d.count() // 2 + 1
    e = t["embeddings"]
    assert e.select("embedding").distinct().count() == e.count()


@pytest.mark.parametrize(
    "name",
    ["q_tpch_q5", "q_dedup_cluster", "q_centroid_assign", "q_stream_join"],
)
def test_real_queries_run_on_grown_dir(spark, grown, name):
    assert entry.queries()[name](spark, grown).limit(1).count() == 1
