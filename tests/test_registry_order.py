"""Driver-window ordering invariants.

The external driver checks the FIRST 50 registry entries. DRIVER_HEAD
names them (51 names: the env-gated st_user_profile_tws registers only
where protobuf is importable, and td_shard_manifest fills slot 50 where
it does not); every other query follows in registration order, which
tests/test_registry_split.py pins name for name.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.plans.registry import (
    DRIVER_HEAD,
    QUERIES,
)


def test_window_is_exactly_the_head():
    head = [n for n in DRIVER_HEAD if n in QUERIES]
    assert list(QUERIES)[:len(head)] == head


def test_window_is_50_slots_plus_one_spare():
    """50 driver slots + the spare pad that covers the env-gated slide
    (51 pinned names, all unique)."""
    assert len(DRIVER_HEAD) == 51
    assert len(set(DRIVER_HEAD)) == 51
    assert DRIVER_HEAD[-1] == "td_shard_manifest"


def test_every_window_slot_is_oracled():
    """Every slot buys a full hash row. The env-gated tws may be absent
    in a bare env (its oracle is proven under check_oracle --shim)."""
    for n in DRIVER_HEAD:
        if n not in QUERIES:
            assert n == "st_user_profile_tws", n
            continue
        assert QUERIES[n][1], n
