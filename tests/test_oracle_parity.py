"""Every registered query must match its DuckDB oracle at sf0.001 — the
local mirror of the driver's correctness gate (see tools/check_oracle.py)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.sweep  # whole-registry sweep: skip via -m "not sweep"

from nonconsumptive_spark.queries import all_queries
from tests.conftest import SF_SMALL
from tools.check_oracle import compare_query

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    res = compare_query(spark, duck, name, QUERIES[name], SF_SMALL)
    assert res["status"] in ("ok", "rows_only"), res.get("problems")
