"""tools/stale_report.py decides which registered queries head the
correctness gate's window; these check its def-level notion of "touched" on
source strings, with no Spark and no git."""

from __future__ import annotations

from tools.stale_report import touched_defs

# A round-named cohort module as the last gate saw it: queries
# registered by its own decorator (the report reads sources, never runs
# them).
COHORT = '''
from nonconsumptive_spark.queries import load

_SCALE = 10**6


@_stage("q_moved", f"SELECT {_SCALE} AS s FROM documents")
def q_moved(spark, sf_dir):
    """Scaled constant per document."""
    return load(spark, sf_dir, "documents").selectExpr(f"{_SCALE} AS s")


@_stage("q_edited", "SELECT 1 AS one FROM documents")
def q_edited(spark, sf_dir):
    return load(spark, sf_dir, "documents").selectExpr("1 AS one")
'''

DOMAIN = '''
from nonconsumptive_spark.queries import load, register

_SCALE = 10**6


@register("q_moved", f"SELECT {_SCALE} AS s FROM documents",
          doc="Scaled constant per document, now with a longer doc.")
def q_moved(spark, sf_dir):
    """Scaled constant per document."""
    return load(spark, sf_dir, "documents").selectExpr(f"{_SCALE} AS s")


@register("q_edited", "SELECT 1 AS one FROM documents")
def q_edited(spark, sf_dir):
    return load(spark, sf_dir, "documents").selectExpr("1 AS one")
'''

OLD = {"cohort": COHORT, "stats": "from __future__ import annotations\n"}


def test_moved_defs_with_stage_renamed_are_untouched():
    # the module of every query changed; a file-level rule marks all
    assert touched_defs(OLD, {"stats": DOMAIN}) == set()


def test_edited_body_is_touched():
    new = DOMAIN.replace('selectExpr("1 AS one")', 'selectExpr("2 AS one")')
    assert touched_defs(OLD, {"stats": new}) == {"q_edited"}


def test_edited_oracle_literal_is_touched():
    new = DOMAIN.replace('"SELECT 1 AS one FROM documents"',
                         '"SELECT 2 AS one FROM documents"')
    assert touched_defs(OLD, {"stats": new}) == {"q_edited"}


def test_edited_helper_constant_is_touched():
    new = DOMAIN.replace("_SCALE = 10**6", "_SCALE = 10**9")
    assert touched_defs(OLD, {"stats": new}) == {"q_moved"}


def test_query_absent_at_the_gate_is_touched():
    new = DOMAIN + '''

@register("q_new", None)
def q_new(spark, sf_dir):
    return load(spark, sf_dir, "documents")
'''
    assert touched_defs(OLD, {"stats": new}) == {"q_new"}
