"""Standing oracle dtype audit (VERDICT r5 item 2): bind every
registered oracle in DuckDB (DESCRIBE-level — no execution)
and flag any output column whose type the driver's value-hash cannot
normalize against Spark's schema.

The class this closes: q_kcenter_select's r5 red row — DuckDB types
``min()`` over BIGINT products as HUGEINT (Arrow decimal128), whose
values compare equal to Python ints locally but hash differently in the
driver.  Any DECIMAL / HUGEINT / unsigned / sub-64-bit-int oracle output
column is a convention violation (see queries/__init__.py docstring:
integer aggregates are CAST to BIGINT on the DuckDB side).

Usage:  python tools/oracle_dtypes.py [sf_dir]
Exit 1 if any oracle emits a flagged column.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_oracle import _canon_duck, duck_connection  # noqa: E402

# Canonical classes a driver-hashed oracle column may use.  Narrow ints
# (i32/i16/i8) are allowed — they hash identically when BOTH engines
# emit them, and the per-query dtype compare in tools/check_oracle.py
# fails any asymmetry.  "dec" (the kcenter class) and unsigned are NOT:
# Spark never emits them from this repo's queries, so an oracle emitting
# one is a guaranteed driver-hash divergence.
ALLOWED = {"i64", "i32", "i16", "i8", "f64", "f32", "str", "bool",
           "date", "ts", "bin"}


def _allowed(canon: str) -> bool:
    if canon.startswith("list<"):
        return _allowed(canon[5:-1])
    return canon in ALLOWED


def audit(con, pairs):
    """[(name, col, canon_type)] for every flagged oracle output column.
    Binding only — ``rel.types`` plans the query without running it."""
    flagged = []
    for name, oracle in pairs:
        rel = con.sql(oracle)
        for col, t in zip(rel.columns, rel.types):
            canon = _canon_duck(str(t))
            if not _allowed(canon):
                flagged.append((name, col, canon, str(t)))
    return flagged


def main():
    from nonconsumptive_spark.queries import all_queries

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    con = duck_connection(sf_dir)
    pairs = [(n, q.oracle) for n, q in all_queries().items() if q.oracle]
    flagged = audit(con, pairs)
    print(f"audited {len(pairs)} oracles")
    for name, col, canon, raw in flagged:
        print(f"FLAGGED  {name}.{col}: {raw} (canon {canon})")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
