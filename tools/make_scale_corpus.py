"""Synthesize a deterministic scaled-up copy of an SF dir for SCALING
MEASUREMENT ONLY (never correctness: there is no oracle for it).

Motivation (VERDICT r8, "Next round" item 4): at sf0.1 every headline
query is job-overhead-bound — 8 cores ≈ 32 cores — so local benchmarks
can no longer distinguish a good plan from a bad one.  This tool builds
an R-times corpus so parallel scaling is demonstrable: each replica k is
sf0.1 with all surrogate keys offset by k*(max+1) and, for documents,
every whitespace token prefixed with ``r<k>x``.  The token remap keeps
per-replica text structure identical while making replicas TOKEN-
DISJOINT, so pair-producing queries (dedup, minhash) scale like R
independent shards instead of blowing up quadratically on 32 identical
copies of every document.  nation/region (true dimensions) are shared.

Deterministic: pure function of the source dir and R — no RNG, no
timestamps.  Output mirrors the source layout (<out>/<table>.parquet as
a directory of one part file per replica, so scans parallelize).

Usage:
  python tools/make_scale_corpus.py [--src /root/testdata/sf0.1] \
      [--replicas 32] [--out /tmp/scale/sf3.2]
"""
from __future__ import annotations

import argparse
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# per-table key columns offset by k*(max+1) so replicas never collide;
# FK columns use the REFERENCED table's stride so joins stay consistent
# within a replica (replica k's lineitem joins replica k's orders/part/
# supplier, exactly like R independent TPC-H shards).
OFFSET_GROUPS: dict[str, list[tuple[str, str]]] = {
    # (column, stride-authority table:column)
    "documents": [("doc_id", "documents:doc_id")],
    "events": [("event_id", "events:event_id"), ("user_id", "events:user_id")],
    "embeddings": [("vec_id", "embeddings:vec_id")],
    "orders": [("o_orderkey", "orders:o_orderkey"),
               ("o_custkey", "customer:c_custkey")],
    "lineitem": [("l_orderkey", "orders:o_orderkey"),
                 ("l_partkey", "part:p_partkey"),
                 ("l_suppkey", "supplier:s_suppkey")],
    "customer": [("c_custkey", "customer:c_custkey")],
    "supplier": [("s_suppkey", "supplier:s_suppkey")],
    "part": [("p_partkey", "part:p_partkey")],
}
SHARED_DIMS = ["nation", "region"]


def _alpha(k: int) -> str:
    """Replica tag in letters only: the corpus tokenizer keeps \\p{L}+
    runs, so a digit-bearing prefix like 'r3x' would SPLIT into the same
    'r'/'x...' tokens for every replica and turn all replicas into exact
    duplicates of each other (observed: 7192-doc LSH band groups and a
    112M-pair candidate explosion at 32x)."""
    s = ""
    k += 1
    while k:
        k, r = divmod(k - 1, 26)
        s = chr(ord("a") + r) + s
    return s


def _remap_text(text: str | None, k: int) -> str | None:
    if text is None:
        return None
    pre = f"q{_alpha(k)}q"
    # prefix each whitespace-delimited run, separators (tabs, newlines,
    # repeated spaces) kept as they are: length grows by a constant per
    # token, token count and per-doc structure are preserved, vocab is
    # disjoint
    return re.sub(r"\S+", lambda m: pre + m.group(), text)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=32)
    ap.add_argument("--out", default="/tmp/scale/sf3.2")
    args = ap.parse_args(argv)
    src, out, R = Path(args.src), Path(args.out), args.replicas

    tables = {p.stem: pq.read_table(p) for p in sorted(src.glob("*.parquet"))}
    strides = {}
    for tname, tbl in tables.items():
        for col in tbl.column_names:
            if col.endswith(("key", "_id")) and pa.types.is_integer(
                    tbl.schema.field(col).type):
                strides[f"{tname}:{col}"] = pc.max(tbl[col]).as_py() + 1
    for tname in tables:
        for col, auth in OFFSET_GROUPS.get(tname, []):
            if auth not in strides:
                atab, acol = auth.split(":")
                raise ValueError(
                    f"{src}: {tname}.{col} takes its key stride from {auth}, "
                    f"but {atab}.parquet with an integer {acol} column is "
                    "not in the source dir")

    for tname, tbl in tables.items():
        tdir = out / f"{tname}.parquet"
        tdir.mkdir(parents=True, exist_ok=True)
        if tname in SHARED_DIMS:
            pq.write_table(tbl, tdir / "part-0.parquet", compression="zstd")
            continue
        texts = tbl["text"].to_pylist() if tname == "documents" else None
        for k in range(R):
            cols = {}
            for col in tbl.column_names:
                arr = tbl[col]
                off = next((strides[auth] for c, auth in
                            OFFSET_GROUPS.get(tname, []) if c == col), None)
                if off is not None and k > 0:
                    arr = pc.add(arr, pa.scalar(off * k, type=arr.type))
                if tname == "documents" and col == "text" and k > 0:
                    remapped = [_remap_text(t, k) for t in texts]
                    arr = pa.array(remapped, type=pa.string())
                if tname == "documents" and col == "n_chars" and k > 0:
                    # keep n_chars consistent with the remapped text
                    arr = pa.array(
                        [None if t is None else len(_remap_text(t, k))
                         for t in texts], type=pa.int64())
                cols[col] = arr
            pq.write_table(pa.table(cols, schema=tbl.schema),
                           tdir / f"part-{k}.parquet", compression="zstd")
    print(f"wrote {R}x {args.src} -> {out}")


if __name__ == "__main__":
    main()
