"""Registry invariants: unique names, a pinned size, and the per-query
facts bench.py derives its sweep from."""

import pytest

from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.registry import query, t_spread


def test_registry_has_234_queries():
    assert len(REGISTRY) == 234


def test_duplicate_registration_raises_and_keeps_first():
    first = REGISTRY["q_agg_basic"]

    def impostor(spark, sf_dir):
        raise AssertionError("must never be registered")

    with pytest.raises(ValueError, match="q_agg_basic"):
        query("q_agg_basic")(impostor)
    assert REGISTRY["q_agg_basic"] is first
    assert REGISTRY["q_agg_basic"].build is not impostor


def test_bench_sweep_is_199_entries():
    benched = {n for n, q in REGISTRY.items() if q.bench}
    writers = {n for n, q in REGISTRY.items() if q.writes_layout}
    # a layout writer outside the sweep would never have its write timed
    assert writers <= benched
    assert len(writers) == 6
    # each layout writer reports a read entry plus a ``__write`` entry
    assert len(benched) + len(writers) == 199


def test_t_spread_rejects_key_on_table_that_does_not_spread(spark, sf_dir):
    with pytest.raises(ValueError, match="nation"):
        t_spread(spark, sf_dir, "nation", key="n_nationkey")
    # the fact tables still accept an override
    df = t_spread(spark, sf_dir, "lineitem", key="l_partkey")
    assert "l_partkey" in df.columns
