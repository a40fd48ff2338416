"""Oracle dtype discipline: (a) the standing DESCRIBE-level audit — no
registered oracle may emit a column class that is a
guaranteed driver-hash divergence (DECIMAL/HUGEINT, unsigned — Spark
never emits these, so the sides cannot agree);
(b) the compare gate itself — the q_kcenter_select r5 bug class
(DuckDB HUGEINT vs Spark int64, values equal, hash different) MUST
reproduce as a local failure, so the driver can never again see a
divergence the suite missed."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.sweep  # whole-registry sweep: skip via -m "not sweep"

from nonconsumptive_spark.queries import Query, all_queries
from tests.conftest import SF_SMALL
from tools.check_oracle import compare_query, duck_connection
from tools.oracle_dtypes import audit


def test_no_oracle_emits_unhashable_dtype():
    con = duck_connection(SF_SMALL)
    pairs = [(n, q.oracle) for n, q in all_queries().items() if q.oracle]
    assert len(pairs) >= 358
    flagged = audit(con, pairs)
    assert flagged == [], flagged


def test_compare_gate_catches_hugeint_vs_int64(spark):
    """The kcenter class, distilled: identical VALUES, HUGEINT vs BIGINT
    types.  Without the dtype-strict compare this passed locally (Python
    Decimal == int) and went red only at the driver."""
    con = duck_connection(SF_SMALL)

    def spark_fn(sp, _sf):
        return sp.range(1).selectExpr("CAST(7 AS BIGINT) AS v")

    bad = Query("t_hugeint", spark_fn,
                "SELECT CAST(7 AS HUGEINT) AS v")
    res = compare_query(spark, con, "t_hugeint", bad, SF_SMALL,
                        verbose=False)
    assert res["status"] == "MISMATCH"
    assert any("dtype[v]" in p for p in res["problems"])

    good = Query("t_bigint", spark_fn, "SELECT CAST(7 AS BIGINT) AS v")
    res = compare_query(spark, con, "t_bigint", good, SF_SMALL,
                        verbose=False)
    assert res["status"] == "ok"


def test_compare_gate_catches_int32_vs_int64(spark):
    con = duck_connection(SF_SMALL)

    def spark_fn(sp, _sf):
        return sp.range(1).selectExpr("CAST(7 AS INT) AS v")

    bad = Query("t_i32", spark_fn, "SELECT CAST(7 AS BIGINT) AS v")
    res = compare_query(spark, con, "t_i32", bad, SF_SMALL, verbose=False)
    assert res["status"] == "MISMATCH"
    assert any("dtype[v]" in p for p in res["problems"])
