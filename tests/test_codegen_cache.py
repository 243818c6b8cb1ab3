"""A warm pass reuses every generated class.

``session.get_spark`` sizes Spark's codegen cache to the engine's working
set. With Spark's default of 100 entries one pass of the four curate
queries (about 170 distinct generated sources) evicts each class before
its reuse, so every repeat of the pass compiled them all again.
"""

from __future__ import annotations

import __spark_entry__ as entry
from nyc_taxi_data_warehouse_spark.session import codegen_compiles

CURATE = ("q_dedup_cluster", "q_cdc_apply", "q_delta_roundtrip", "q_stream_cusum")


def _curate_pass(spark, sf_dir) -> int:
    qs = entry.queries()
    before = codegen_compiles(spark)
    for name in CURATE:
        spark.catalog.clearCache()
        qs[name](spark, sf_dir).collect()
    spark.catalog.clearCache()
    return codegen_compiles(spark) - before


def test_warm_curate_pass_compiles_no_class(spark, sf_dir):
    first = _curate_pass(spark, sf_dir)
    second = _curate_pass(spark, sf_dir)
    assert second == 0, f"warm pass compiled {second} classes (cold pass {first})"
