"""Driver-grade oracle parity on ADVERSARIAL text the ASCII fixtures never
exercise: CJK, accented Latin, RTL Arabic, emoji, empty, NULL,
whitespace-only, and case/ligature oddities — swept across EVERY
registered and staged query reachable from the documents table alone.

This probe caught (and now pins the fix for) a 23-query latent class:
Spark's legacy size(NULL array) = -1 / NULL-propagating splits versus
the oracles' NULL arithmetic — invisible on NULL-free fixtures, a red
driver row on the first corpus with a NULL or exotic row.  Convention
established: NULL text counts as empty, on BOTH engines."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.sweep  # whole-registry sweep: skip via -m "not sweep"

from nonconsumptive_spark.queries import all_queries
from tools.check_oracle import compare_query, duck_connection

ROWS = [
    (0, "你好 世界 你好 世界 这 是 一个 测试 文档", "zh", "cjk", 20),
    (1, "café déjà vu naïve café résumé déjà", "fr", "latin", 35),
    (2, "مرحبا بالعالم هذا اختبار", "ar", "rtl", 24),
    (3, "hello 🙂 world 🚀 emoji only 🎉 here", "en", "emoji", 33),
    (4, "", "en", "empty", 0),
    (5, None, "en", "null", 0),
    (6, "   \t  \n  ", "en", "ws", 9),
    (7, "MiXeD CaSe ÅÄÖ ß ǅ ﬁ ligatures", "de", "mixed", 30),
]

# Queries needing tables beyond documents cannot run on this fixture and
# are skipped by the error probe below; everything else MUST match.
MIN_COVERED = 130


@pytest.fixture(scope="module")
def uni_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("uni")
    tbl = pa.table({
        "doc_id": pa.array([r[0] for r in ROWS], pa.int64()),
        "text": pa.array([r[1] for r in ROWS], pa.string()),
        "lang": pa.array([r[2] for r in ROWS], pa.string()),
        "source": pa.array([r[3] for r in ROWS], pa.string()),
        "n_chars": pa.array([r[4] for r in ROWS], pa.int64()),
    })
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_adversarial_text_oracle_parity_sweep(spark, uni_dir):
    duck = duck_connection(uni_dir)
    entries = dict(all_queries())
    covered, failures = 0, []
    for n, q in sorted(entries.items()):
        try:
            r = compare_query(spark, duck, n, q, uni_dir, verbose=False)
        except Exception:
            continue  # needs tables the fixture does not carry
        covered += 1
        if r["status"] != "ok":
            failures.append((n, r.get("problems")))
    assert covered >= MIN_COVERED, f"only {covered} queries covered"
    assert not failures, failures
