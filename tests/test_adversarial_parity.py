"""Driver-grade oracle parity on an ADVERSARIAL ten-table fixture the
clean generated testdata never exercises.

Supersedes the documents-only unicode sweep (tests/test_unicode_parity.py,
which caught the 23-query size(NULL)=-1 class): this fixture carries ALL
ten tables, so every oracle-paired query — registered and staged — runs
instead of ~130, and a query that errors on the fixture is a FAILURE, not
a silent skip.

Per-table adversarial content (FK-intact — the generators guarantee
referential integrity, so orphan keys are out-of-contract):

* documents — NULL / empty / whitespace-only text, CJK, RTL Arabic,
  emoji, ligatures, an exact-dup pair, a near-dup pair, a repeated-line
  doc, a code-like doc; n_chars consistent with text.
* events — timestamps exactly ON 1-hour / 30-minute window boundaries,
  same-user duplicate timestamps (ordering ties), a gap of exactly the
  30-minute session timeout, value 0.0 / -0.0 / negative, props that are
  valid / {} / malformed / empty-string / NULL JSON.
* orders / lineitem — price ties across orders, leap-day and
  month-boundary order dates, discount=1.0 (zero revenue), zero
  quantity, an order with no lineitems, same-timestamp order pairs.
* customer / supplier / part — unicode names, duplicate names, acctbal
  0.0 / -0.0 / negative, ties, a customer with no orders, a part with no
  lineitems, singleton categories.
* region / nation — a region with no nations, a nation with no
  customers or suppliers, unicode names.
* embeddings — a zero vector (cosine guard), an exact-duplicate vector
  pair (similarity ties), -0.0 components, a singleton label.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.sweep  # whole-registry sweep: skip via -m "not sweep"

from datetime import datetime

from nonconsumptive_spark.queries import all_queries
from tools.check_oracle import compare_query, duck_connection


def _ts(s):
    return datetime.fromisoformat(s)


DOC_TEXTS = [
    (1, None, "en", "src0"),
    (2, "", "en", "src0"),
    (3, "   \n\t  ", "en", "src1"),
    (4, "漢字とひらがなとカタカナが混ざった文章です。日本語のテスト。", "zh", "src1"),
    (5, "النص العربي يُكتب من اليمين إلى اليسار hello مرحبا", "es", "src2"),
    (6, "emoji 🎉🎊 party 🎉 emoji party 🎉🎊", "fr", "src2"),
    (7, "MiXeD CaSe ÅÄÖ ß ǅ ﬁ ligatures", "de", "mixed"),
    (8, "the quick brown fox jumps over the lazy dog", "en", "src3"),
    (9, "the quick brown fox jumps over the lazy dog", "en", "src3"),
    (10, "the quick brown fox jumps over the lazy cat", "en", "src3"),
    (11, "repeat line one\nrepeat line one\nrepeat line one\n"
         "alpha beta alpha beta alpha beta gamma delta gamma delta\n"
         "repeat line one", "en", "src4"),
    (12, "def f(x):\n    return x + 1\n\nclass A:\n    pass  # comment",
     "xx", "src4"),
]

EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (1, "2024-01-01 00:00:00", 1, "signup", 0.0, '{"k": 0}'),
    (2, "2024-01-01 00:30:00", 1, "click", 1.5, '{"k": 87}'),     # gap == 30min
    (3, "2024-01-01 01:00:00", 1, "view", -0.0, '{"k": 12}'),     # on hour edge
    (4, "2024-01-01 01:00:00", 1, "purchase", 250.75, "{}"),      # dup ts, user 1
    (5, "2024-01-01 01:59:59", 1, "error", -3.25, None),          # NULL props
    (6, "2024-01-01 00:15:00", 2, "click", 2.0, '{"k": 1}'),
    (7, "2024-01-01 00:44:59", 2, "purchase", 99.99, '{bad'),     # malformed
    (8, "2024-01-02 00:00:00", 2, "view", 0.0, ""),               # empty props
    (9, "2024-01-02 00:00:00", 2, "view", 0.0, '{"k": 87}'),      # full dup ts
    (10, "2024-01-15 12:00:00", 3, "signup", 7.0, '{"k": 3}'),    # singleton user
]

ORDERS = [
    (100, 1, "O", 0.0, "2024-01-01 00:00:00", "1-URGENT"),
    (101, 1, "F", 250.75, "2024-02-29 23:59:59", "2-HIGH"),
    (102, 2, "O", 250.75, "2024-03-01 00:00:00", "2-HIGH"),
    (103, 3, "F", 10.10, "2024-03-15 12:00:00", "5-LOW"),
    (104, 4, "O", 99.99, "2024-03-15 12:00:00", "5-LOW"),
    (105, 5, "P", -42.00, "2024-04-01 06:30:00", "4-NOT SPECIFIED"),
]

LINEITEM = [
    # (okey, pkey, skey, lineno, qty, extprice, disc, tax, rf, ls, ship)
    (100, 1, 1, 1, 5.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-05 00:00:00"),
    (100, 2, 2, 2, 5.0, 100.0, 1.0, 0.08, "N", "O", "2024-01-05 00:00:00"),
    (101, 1, 1, 1, 0.0, 0.0, 0.05, 0.01, "R", "F", "2024-02-29 12:00:00"),
    (101, 3, 2, 2, 3.0, 0.03, 0.1, 0.0, "A", "F", "2024-03-02 08:00:00"),
    (102, 2, 3, 1, 7.0, 70.0, 0.05, 0.08, "N", "O", "2024-03-02 08:00:00"),
    (103, 3, 1, 1, 7.0, 70.0, 0.05, 0.08, "R", "O", "2024-03-20 10:00:00"),
    (104, 1, 2, 1, 1.0, 99.99, 0.5, 0.04, "A", "O", "2024-03-20 10:00:00"),
]


def _emb(seed, dim=64):
    """Deterministic pseudo-embedding without numpy RNG state."""
    return [((seed * 31 + i * 7) % 13 - 6) / 6.0 for i in range(dim)]


EMBEDDINGS = [
    (1, _emb(1), 0),
    (2, _emb(1), 0),                      # exact duplicate of vec 1
    (3, [0.0] * 64, 1),                   # zero vector
    (4, [-0.0] * 32 + [1.0] + [0.0] * 31, 1),
    (5, _emb(5), 2),                      # singleton label 2 after 0/1
    (6, [-v for v in _emb(1)], 0),        # antipode of vec 1
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial")

    def w(name, table):
        pq.write_table(table, str(d / f"{name}.parquet"))

    w("region", pa.table({
        "r_regionkey": pa.array([0, 1, 2], pa.int32()),
        "r_name": pa.array(["AMERICA", "ASIE ÀSÎA", "EMPTY REGION"]),
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array([0, 1, 2, 3], pa.int32()),
        "n_name": pa.array(["BRAZIL", "日本", "ÉIRE", "LONELY"]),
        "n_regionkey": pa.array([0, 1, 1, 0], pa.int32()),
    }))
    w("customer", pa.table({
        "c_custkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "c_name": pa.array(["Alice", "Bob 𝔘nicode", "Charlie",
                            "dup-name", "dup-name", "NoOrders"]),
        "c_nationkey": pa.array([0, 1, 2, 0, 1, 2], pa.int32()),
        "c_acctbal": pa.array([100.5, -999.99, 0.0, 100.5, 100.5, 5.25]),
        "c_mktsegment": pa.array(["BUILDING", "AUTOMOBILE", "BUILDING",
                                  "MACHINERY", "MACHINERY", "FURNITURE"]),
    }))
    w("supplier", pa.table({
        "s_suppkey": pa.array([1, 2, 3], pa.int64()),
        "s_name": pa.array(["Supp A", "Supp 🏭", "Supp A"]),
        "s_nationkey": pa.array([0, 1, 1], pa.int32()),
        "s_acctbal": pa.array([50.0, -0.0, 50.0]),
    }))
    w("part", pa.table({
        "p_partkey": pa.array([1, 2, 3, 4], pa.int64()),
        "p_name": pa.array(["widget", "widget", "gâteau Ω", "unused part"]),
        "p_brand": pa.array(["Brand#1", "Brand#2", "Brand#1", "Brand#3"]),
        "p_type": pa.array(["SMALL PLATED", "LARGE PLATED",
                            "SMALL POLISHED", "MEDIUM BURNISHED"]),
        "p_size": pa.array([0, 5, 50, 10], pa.int32()),
        "p_retailprice": pa.array([10.0, 10.0, 0.01, 99.99]),
    }))
    w("orders", pa.table({
        "o_orderkey": pa.array([r[0] for r in ORDERS], pa.int64()),
        "o_custkey": pa.array([r[1] for r in ORDERS], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in ORDERS]),
        "o_totalprice": pa.array([r[3] for r in ORDERS]),
        "o_orderdate": pa.array([_ts(r[4]) for r in ORDERS],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([r[5] for r in ORDERS]),
    }))
    w("lineitem", pa.table({
        "l_orderkey": pa.array([r[0] for r in LINEITEM], pa.int64()),
        "l_partkey": pa.array([r[1] for r in LINEITEM], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in LINEITEM], pa.int64()),
        "l_linenumber": pa.array([r[3] for r in LINEITEM], pa.int32()),
        "l_quantity": pa.array([r[4] for r in LINEITEM]),
        "l_extendedprice": pa.array([r[5] for r in LINEITEM]),
        "l_discount": pa.array([r[6] for r in LINEITEM]),
        "l_tax": pa.array([r[7] for r in LINEITEM]),
        "l_returnflag": pa.array([r[8] for r in LINEITEM]),
        "l_linestatus": pa.array([r[9] for r in LINEITEM]),
        "l_shipdate": pa.array([_ts(r[10]) for r in LINEITEM],
                               pa.timestamp("us")),
    }))
    w("events", pa.table({
        "event_id": pa.array([r[0] for r in EVENTS], pa.int64()),
        "ts": pa.array([_ts(r[1]) for r in EVENTS], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in EVENTS], pa.int64()),
        "event_type": pa.array([r[3] for r in EVENTS]),
        "value": pa.array([r[4] for r in EVENTS]),
        "props": pa.array([r[5] for r in EVENTS], pa.string()),
    }))
    w("documents", pa.table({
        "doc_id": pa.array([r[0] for r in DOC_TEXTS], pa.int64()),
        "text": pa.array([r[1] for r in DOC_TEXTS], pa.string()),
        "lang": pa.array([r[2] for r in DOC_TEXTS]),
        "source": pa.array([r[3] for r in DOC_TEXTS]),
        "n_chars": pa.array(
            [len(r[1]) if r[1] is not None else 0 for r in DOC_TEXTS],
            pa.int64()),
    }))
    w("embeddings", pa.table({
        "vec_id": pa.array([r[0] for r in EMBEDDINGS], pa.int64()),
        "embedding": pa.array([r[1] for r in EMBEDDINGS],
                              pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in EMBEDDINGS], pa.int32()),
    }))
    return str(d)


def test_adversarial_full_table_parity_sweep(spark, adv_dir):
    duck = duck_connection(adv_dir)
    entries = dict(all_queries())
    failures = []
    for n, q in sorted(entries.items()):
        try:
            r = compare_query(spark, duck, n, q, adv_dir, verbose=False)
        except Exception as e:  # a crash on adversarial data IS a failure
            failures.append((n, f"exception: {type(e).__name__}: {e}"))
            continue
        if r["status"] != "ok":
            failures.append((n, r.get("problems")))
    assert not failures, (
        f"{len(failures)} queries diverge on the adversarial fixture:\n"
        + "\n".join(f"  {n}: {p}" for n, p in failures))
