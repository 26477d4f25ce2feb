"""The query registry imports every family loudly and holds all of them."""

from __future__ import annotations

import importlib

from etl_globalretail_spark.plans.registry import ALL_ORACLE, ALL_QUERIES, FAMILIES


def test_registry_holds_all_417_queries():
    assert len(ALL_QUERIES) == 417
    assert set(ALL_ORACLE) == set(ALL_QUERIES)


def test_every_family_adds_a_query():
    for mod in FAMILIES:
        qs = importlib.import_module(f"etl_globalretail_spark.{mod}").QUERIES
        assert qs, f"{mod} registers no query"
        assert set(qs) <= set(ALL_QUERIES), mod
