"""Driver-contract registry invariants: every `queries()` entry carries an
`oracle_sql()` twin, the stale-evidence rotation covers the whole registry,
and the driver's 50-slot check window is spent on unverified-first entries.
The engine reads no environment variable beyond the session sizing.
"""

from __future__ import annotations

import pathlib
import re
import sys

import pytest

import __spark_entry__ as entry


def test_every_query_has_an_oracle_twin():
    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert set(qs) == set(os_), (
        f"missing oracles: {set(qs) - set(os_)}; "
        f"orphan oracles: {set(os_) - set(qs)}"
    )
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())


def test_registry_order_is_deterministic_and_window_prioritized():
    qs = list(entry.queries())
    assert qs == list(entry.oracle_sql())  # same order both maps
    assert len(qs) == len(set(qs))
    # every _CHECK_FIRST name that exists leads the registry, in order
    first = [q for q in entry._CHECK_FIRST if q in set(qs)]
    assert qs[: len(first)] == first
    # _CHECK_FIRST/_CHECK_LAST reference only real queries and don't overlap
    assert not set(entry._CHECK_FIRST) & set(entry._CHECK_LAST)
    assert set(entry._CHECK_FIRST) <= set(qs)
    assert set(entry._CHECK_LAST) <= set(qs)


# Reference-surface flagships: the headline marts must never go more
# than 2 rounds without a driver CORRECTNESS row (round-8 VERDICT item
# 7).  Refreshed in round 12 → due round 14: this round they sit IN the
# 50-slot window (_CHECK_FIRST slots 9-13).
FLAGSHIPS = [
    "q_enrich", "q_trips_weather", "q_daily",
    "q_zone_analysis", "q_fare_daily_features",
]


def test_flagship_freshness_policy_slots():
    assert entry._CHECK_FIRST[8:13] == FLAGSHIPS, (
        "flagship freshness policy: r12-refreshed flagships are due r14 "
        "— they must sit inside the round-14 50-slot window"
    )


def test_round14_window_covers_unverified_rewrites():
    # Round-14 window (VERDICT r13 item 2): the 8 round-13 rewrites
    # that shipped without a driver row lead, then the flagships, then
    # the round-14 optimization touch set, then the 25 stalest round-7
    # entries.
    verdict_listed = [
        "q_hll_overlap", "q_lsh_tuning", "q_quantile_summary",
        "q_concurrency", "q_ngram_jaccard", "q_containment",
        "q_incremental_neardup", "q_neardup_store_roundtrip",
    ]
    assert entry._CHECK_FIRST[:8] == verdict_listed
    # evidence-can't-outrun-code: every round-14 rewrite gets a row
    touched_r14 = {
        "q_ivfpq_search", "q_pq_search", "q_kmeans_cells", "q_srp_lsh",
        "q_ann_index_persist", "q_minhash_lsh", "q_dedup_cluster",
        "q_cluster_split", "q_neardup_store_bucketed",
        "q_store_time_travel", "q_stream_ingest_dedup", "q_skew_join",
    }
    assert touched_r14 <= set(entry._CHECK_FIRST[13:25])
    r7_stale_edges = ("q_dsir_select", "q_tpch_q16")
    assert entry._CHECK_FIRST[25] == r7_stale_edges[0]
    assert entry._CHECK_FIRST[49] == r7_stale_edges[1]
    assert len(entry._CHECK_FIRST) == 50
    # the round-13 window (freshest driver evidence) sits at the tail
    assert entry._CHECK_LAST[-1] == "q_divergence_drift"


def test_unimportable_query_module_fails_loudly(monkeypatch):
    monkeypatch.setitem(
        sys.modules, "nyc_taxi_data_warehouse_spark.queries_mining", None
    )
    with pytest.raises(ImportError):
        entry.queries()
    with pytest.raises(ImportError):
        entry.oracle_sql()


def test_engine_reads_only_session_env_vars():
    """The engine's only environment inputs size the Spark session; every
    query runs one path whatever the environment says."""
    pkg = pathlib.Path(entry.__file__).parent / "nyc_taxi_data_warehouse_spark"
    found = {
        m
        for f in pkg.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text())
    }
    assert found == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_DRIVER_MEM",
    }
