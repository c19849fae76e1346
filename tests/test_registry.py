"""Catalog registry invariants of mpds_spark.queries: each name is
registered once, and QUERIES and ORACLES share one key order (the driver
reads queries in that order)."""

import re

import pytest

from mpds_spark import queries


def test_register_twice_raises():
    name = next(iter(queries.QUERIES))
    fn, sql = queries.QUERIES[name], queries.ORACLES[name]
    n = len(queries.QUERIES)
    with pytest.raises(ValueError, match=re.escape(repr(name))):
        queries._register(name, lambda spark, sf_dir: None, "SELECT 1")
    assert len(queries.QUERIES) == len(queries.ORACLES) == n
    assert queries.QUERIES[name] is fn
    assert queries.ORACLES[name] == sql


def test_queries_and_oracles_share_key_order():
    assert list(queries.QUERIES) == list(queries.ORACLES)
