"""Differential test: every registered query with an oracle must match
DuckDB exactly (the driver's correctness gate, run locally at sf0.001;
the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from hiveberg_spark import registry
from hiveberg_spark.testing import compare

registry.load_all()

_WITH_ORACLE = sorted(registry.ORACLES)


def test_every_query_has_an_oracle():
    assert set(registry.QUERIES) == set(registry.ORACLES)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    result = registry.QUERIES[name](spark, sf_dir)
    oracle = duck.sql(registry.ORACLES[name]).df()
    problems = compare(result, oracle)
    assert not problems, f"{name}: " + "; ".join(problems)
