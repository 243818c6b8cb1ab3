"""Connected-components edge spill (SPARK_GRAFT_CC_SPILL=1): each query
spills into its own per-process dir, so building one query's frame never
overwrites the ``cc_edges`` another query's frame was built from."""

from __future__ import annotations

import __spark_entry__ as entry
from nyc_taxi_data_warehouse_spark.operators import dedup


def test_cc_spill_dirs_are_per_query(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CC_SPILL", "1")
    used = []
    real = dedup.connected_components

    def spy(*args, **kwargs):
        used.append(kwargs["spill_dir"])
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", spy)
    qs = entry.queries()
    first = qs["q_dedup_cluster"](spark, sf_dir)
    qs["q_cluster_split"](spark, sf_dir)
    spark.catalog.clearCache()
    assert first.count() > 0
    assert len(used) == 2 and None not in used
    assert used[0] != used[1]
