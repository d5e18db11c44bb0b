"""Session-conf scoping: ``scoped_conf`` puts every key back exactly as
it was, and no registry entry that scopes confs leaves the shared
session changed (the contract ``bench/session_leak_audit.py`` checks
over the whole registry)."""

from __future__ import annotations

from contextlib import nullcontext

import pytest

from s4_spark.queries import REGISTRY
from s4_spark.session import scoped_conf
from tests.conftest import SMOKE_SF_DIR


def session_confs(spark) -> list[tuple[str, str]]:
    return sorted((r[0], r[1]) for r in spark.sql("SET").collect())


def hadoop_s3a(spark) -> dict[str, str]:
    it = spark._jsc.hadoopConfiguration().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        if e.getKey().startswith("fs.s3a."):
            out[e.getKey()] = e.getValue()
    return out


class _Boom(Exception):
    pass


@pytest.mark.parametrize(
    "key, value, raises",
    [
        # registered default, unset beforehand: must come back UNSET,
        # not pinned to the default
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "false", False),
        # set beforehand (get_spark pins it): must come back to that value
        ("spark.sql.autoBroadcastJoinThreshold", "-1", False),
        # the block raises: restored all the same, error propagates
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "false", True),
    ],
    ids=["unset-with-default", "set-before", "raises"],
)
def test_scoped_conf_restores_session(spark, key, value, raises):
    before = session_confs(spark)
    with pytest.raises(_Boom) if raises else nullcontext():
        with scoped_conf(spark, {key: value}):
            assert spark.conf.get(key) == value
            if raises:
                raise _Boom
    assert session_confs(spark) == before


@pytest.mark.parametrize(
    "name",
    [
        "q181_incremental_shard_refresh",
        "q194_runtime_bloom_join",
        "q201_cbo_join_reorder",
        "q251_rocksdb_changelog_restart",
        "q260_aqe_skew_join",
        "q270_aqe_join_strategy_switch",
        "q277_recursive_cte",
        "q279_runtime_bloom_filter_join",
    ],
)
def test_entry_leaves_session_conf_unchanged(spark, name):
    """Every entry that scopes confs must leave the session as it found
    it. The q251 case is the one that motivated the contract: its
    changelog-checkpointing conf once leaked and a later q258 in the
    same session ran 8x slower."""
    before = session_confs(spark), hadoop_s3a(spark)
    REGISTRY[name].fn(spark, SMOKE_SF_DIR).collect()
    assert (session_confs(spark), hadoop_s3a(spark)) == before
