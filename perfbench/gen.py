"""Seeded input generator for the benchmark.

Everything a workload reads is written here from ``--seed``: the same seed
gives byte-identical files.  The program under test sees only these files.

Three input sets, one per workload, each fixing the properties that
workload's layers are sensitive to:

* ``feature_build``: parquet bookstacks plus an ndjson catalog.  Zipfian
  vocabulary (the skew that sizes the unigram/bigram shuffles and the
  vocabulary encode), log-normal document lengths (the spread that makes
  per-document n-gram counts and SRP batches uneven), and no planted
  near-duplicates.
* ``query_mix``: an sf-style table directory with the TESTDATA schemas
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) so the registry ``spark_fn(spark, dir)`` functions
  and their DuckDB ``oracle`` SQL run unchanged, plus bookstacks of the
  same documents for ``CorpusSession.run()`` reads.
* ``neardup_ingest``: a document corpus with planted near-duplicate
  clusters at a fixed share, their Jaccard values spread around the 0.5
  threshold, split into id-ordered arrival batches for the stream.

Money columns are whole multiples of 100 with two-decimal rates, so every
``round(sum(...), 2)`` in the oracles sums exactly representable cents and
never lands on a rounding tie that Spark and DuckDB could break apart.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes -------------------------------------------------------------------
# Chosen so one op is a few seconds of real layer work on a 4-core box while
# a whole run (JVM start, set-up, a --seconds window) stays well under a
# minute; see perfbench/README.md for the measurements behind them.
VOCAB = 20_000           # distinct word types drawn from
ZIPF_S = 1.07            # Zipf-Mandelbrot exponent: English-like skew
ZIPF_Q = 2.7             # Mandelbrot offset: flattens the top few ranks
FB_DOCS = 200          # feature_build corpus
FB_STACKS = 8            # bookstack files (>= cores, so reads split)
FB_LEN_MEDIAN = 180      # tokens; log-normal so a few docs are 10x longer
FB_LEN_SIGMA = 0.9
QM_DOCS = 400          # query_mix documents table / bookstacks
QM_STACKS = 4
QM_LEN_MEDIAN = 60
QM_LEN_SIGMA = 0.7
QM_ORDERS = 12_000       # lineitem ~ 4 lines per order
QM_CUSTOMERS = 1_200
QM_PARTS = 1_600
QM_SUPPLIERS = 80
QM_EVENTS = 20_000
QM_USERS = 150
QM_VECTORS = 800
QM_DIM = 64
ND_DOCS = 800          # neardup corpus (base docs + planted variants)
ND_DUP_SHARE = 0.15      # share of docs that are planted variants
ND_BATCHES = 3           # stream arrival batches per pass
ND_LEN_MEDIAN = 120
ND_LEN_SIGMA = 0.5
ND_MIN_LEN = 30          # short random docs would collide by chance
# Per-variant token replacement rate.  With 3-token shingles a rate m
# gives Jaccard ~ (1-m)^3 / (2-(1-m)^3): 0.02 -> 0.89, 0.10 -> 0.57,
# 0.16 -> 0.42; pairs of two copies sit lower, so planted pairs
# straddle the 0.5 threshold.
ND_MUTATE = (0.02, 0.16)
THRESHOLD = 0.5
SHINGLE_N = 3

LANGS = ["en", "es", "de", "fr"]
GENRES = ["fiction", "history", "poetry", "science", "travel", "drama",
          "essays", "letters"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_WORD = re.compile(r"[a-z]+")


def tokens(text: str) -> list[str]:
    """The engine's tokenizer (split on non-letters, drop empties) for the
    ASCII-lowercase texts generated here."""
    return _WORD.findall(text)


def shingles(text: str) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + SHINGLE_N]) for i in range(len(t) - SHINGLE_N + 1)}


def jaccard(a: set, b: set) -> float:
    """Jaccard rounded to 4 places half-up, as the engines' round() does
    on the double's shortest decimal form (Python's round() would take
    ties such as 21/32 to even)."""
    inter = len(a & b)
    j = Decimal(repr(inter / (len(a) + len(b) - inter)))
    return float(j.quantize(Decimal("0.0001"), ROUND_HALF_UP))


# -- text --------------------------------------------------------------------
def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct lowercase words of 1-4 syllables, shortest first, so
    the frequent (low-rank) words are short as in natural text."""
    syl = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"])
    words: set[str] = set()
    while len(words) < VOCAB:
        k = rng.integers(1, 5, size=VOCAB)
        parts = syl[rng.integers(0, len(syl), size=(VOCAB, 4))]
        parts = np.where(np.arange(4) < k[:, None], parts, "")
        words.update(np.char.add(np.char.add(parts[:, 0], parts[:, 1]),
                                 np.char.add(parts[:, 2], parts[:, 3])).tolist())
    ordered = sorted(words, key=lambda w: (len(w), w))[:VOCAB]
    # shuffle within each length so rank is not alphabetical
    out = np.array(ordered)
    lens = np.array([len(w) for w in ordered])
    for L in np.unique(lens):
        idx = np.flatnonzero(lens == L)
        out[idx] = out[rng.permutation(idx)]
    return out


def _zipf_p() -> np.ndarray:
    p = 1.0 / (np.arange(VOCAB) + ZIPF_Q) ** ZIPF_S
    return p / p.sum()


def _lengths(rng, n, median, sigma, lo, hi=4000) -> np.ndarray:
    """Log-normal document lengths taken at evenly spaced quantiles, in a
    seeded order: every seed gets the same length distribution and token
    total, so the work per op does not change with the seed."""
    z = [NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)]
    lengths = np.clip(np.exp(np.log(median) + sigma * np.array(z)), lo, hi)
    return rng.permutation(lengths.astype(int))


def _texts(rng, vocab, lengths) -> tuple[list[str], list[list[int]]]:
    """Documents as word-index lists and rendered text.  Punctuation and
    doubled spaces exercise the tokenizer's separator handling without
    changing the token sequence."""
    p = _zipf_p()
    total = int(lengths.sum())
    ids = rng.choice(VOCAB, size=total, p=p)
    punct = rng.choice(np.array([" ", " ", " ", " ", " ", " ", " ", " ", " ",
                                 " ", " ", ", ", ". ", "  "]), size=total)
    texts, idx_lists = [], []
    pos = 0
    for L in lengths:
        w = ids[pos:pos + L]
        sep = punct[pos:pos + L]
        pos += L
        texts.append("".join(np.char.add(vocab[w], sep)).rstrip() + ".")
        idx_lists.append(w.tolist())
    return texts, idx_lists


def _render(vocab, idx: list[int]) -> str:
    return " ".join(vocab[idx]) + "."


# -- writers -----------------------------------------------------------------
def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_bookstacks(out: Path, ids: list[str], texts: list[str],
                      n_stacks: int) -> None:
    per = -(-len(ids) // n_stacks)
    for s in range(n_stacks):
        sl = slice(s * per, (s + 1) * per)
        _write(pa.table({"@id": ids[sl], "nc:text": texts[sl]}),
               out / f"stack-{s:04d}.parquet")


def _write_catalog(path: Path, rng, ids: list[str]) -> None:
    n = len(ids)
    years = rng.integers(1800, 2021, size=n)
    months = rng.integers(1, 13, size=n)
    days = rng.integers(1, 29, size=n)
    genres = rng.choice(GENRES, size=n)
    authors = rng.integers(0, max(1, n // 5), size=n)
    pages = rng.integers(20, 900, size=n)
    with path.open("w") as fh:
        for i, doc in enumerate(ids):
            fh.write(json.dumps({
                "@id": doc,
                "title": f"Title {i}",
                "author": f"Author {authors[i]}",
                "genre": str(genres[i]),
                "year": int(years[i]),
                "date": f"{years[i]:04d}-{months[i]:02d}-{days[i]:02d}",
                "pages": int(pages[i]),
            }) + "\n")


def _corpus(root: Path, rng, vocab, n_docs, median, sigma, n_stacks) -> dict:
    lengths = _lengths(rng, n_docs, median, sigma, lo=5)
    texts, _ = _texts(rng, vocab, lengths)
    ids = [f"doc{i:06d}" for i in range(n_docs)]
    _write_bookstacks(root / "bookstacks", ids, texts, n_stacks)
    return {"ids": ids, "texts": texts, "n_tokens": int(lengths.sum()),
            "bytes": sum(len(t.encode()) for t in texts)}


# -- workloads ---------------------------------------------------------------
def feature_build(root: Path, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng)
    c = _corpus(root, rng, vocab, FB_DOCS, FB_LEN_MEDIAN, FB_LEN_SIGMA, FB_STACKS)
    _write_catalog(root / "catalog.ndjson", rng, c["ids"])
    return {"docs": FB_DOCS, "tokens": c["n_tokens"], "corpus_bytes": c["bytes"]}


def _epoch_s(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp())


def _ts_col(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def query_mix(root: Path, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng)
    c = _corpus(root, rng, vocab, QM_DOCS, QM_LEN_MEDIAN, QM_LEN_SIGMA, QM_STACKS)
    sf = root / "tables"
    n = QM_DOCS
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": c["texts"],
        "lang": rng.choice(LANGS, size=n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in c["texts"]], pa.int64()),
    }), sf / "documents.parquet")

    emb = rng.standard_normal((QM_VECTORS, QM_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(QM_VECTORS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, QM_VECTORS), pa.int32()),
    }), sf / "embeddings.parquet")

    # events: one month of microsecond timestamps, sorted like a log
    t0 = _epoch_s(2024, 1, 1) * 10**6
    span = 30 * 86400 * 10**6
    ts = np.sort(t0 + rng.integers(0, span, QM_EVENTS))
    _write(pa.table({
        "event_id": pa.array(np.arange(QM_EVENTS), pa.int64()),
        "ts": _ts_col(ts),
        "user_id": pa.array(rng.integers(0, QM_USERS, QM_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, size=QM_EVENTS).tolist(),
        "value": np.round(rng.integers(1, 5000, QM_EVENTS) / 100.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, QM_EVENTS)],
    }), sf / "events.parquet")

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }), sf / "region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), sf / "nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(QM_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(QM_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, QM_CUSTOMERS), pa.int32()),
        "c_acctbal": rng.integers(-99_900, 999_900, QM_CUSTOMERS) / 100.0,
        "c_mktsegment": rng.choice(SEGMENTS, size=QM_CUSTOMERS).tolist(),
    }), sf / "customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(QM_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(QM_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, QM_SUPPLIERS), pa.int32()),
        "s_acctbal": rng.integers(-99_900, 999_900, QM_SUPPLIERS) / 100.0,
    }), sf / "supplier.parquet")
    adjs = ["small", "red", "large", "blue", "shiny", "green", "steel"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(QM_PARTS), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 7, QM_PARTS), rng.integers(0, 7, QM_PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, QM_PARTS)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"],
                             size=QM_PARTS).tolist(),
        "p_size": pa.array(rng.integers(1, 51, QM_PARTS), pa.int32()),
        "p_retailprice": (900 + np.arange(QM_PARTS) % 1000) * 1.0,
    }), sf / "part.parquet")

    day = 86400 * 10**6
    d0 = _epoch_s(1995, 1, 1) * 10**6
    odate = d0 + rng.integers(0, 7 * 365, QM_ORDERS) * day
    nlines = rng.integers(1, 8, QM_ORDERS)
    n_li = int(nlines.sum())
    l_order = np.repeat(np.arange(QM_ORDERS), nlines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in nlines])
    qty = rng.integers(1, 51, n_li).astype(float)
    price = rng.integers(9, 1000, n_li) * 100.0
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odate, nlines) + rng.integers(1, 122, n_li) * day
    flag = np.where(ship < d0 + 5 * 365 * day,
                    rng.choice(["R", "A"], size=n_li), "N")
    status = np.where(ship < d0 + 5 * 365 * day, "F", "O")
    _write(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, QM_PARTS, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, QM_SUPPLIERS, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag.tolist(),
        "l_linestatus": status.tolist(),
        "l_shipdate": _ts_col(ship),
    }), sf / "lineitem.parquet")
    totals = np.bincount(l_order, weights=price, minlength=QM_ORDERS)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(QM_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, QM_CUSTOMERS, QM_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=QM_ORDERS).tolist(),
        "o_totalprice": totals,
        "o_orderdate": _ts_col(odate),
        "o_orderpriority": rng.choice(PRIORITIES, size=QM_ORDERS).tolist(),
    }), sf / "orders.parquet")
    return {"docs": QM_DOCS, "tokens": c["n_tokens"], "corpus_bytes": c["bytes"], "lineitem_rows": n_li}


def neardup_ingest(root: Path, seed: int) -> dict:
    """Base documents plus planted clusters (a base doc and 1-3 copies
    with a share of tokens replaced).  Ids are shuffled so clusters span arrival batches, which
    makes the stream's index lookups find cross-batch matches."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng)
    n_var_target = int(ND_DOCS * ND_DUP_SHARE)
    n_base = ND_DOCS - n_var_target
    lengths = _lengths(rng, n_base, ND_LEN_MEDIAN, ND_LEN_SIGMA, lo=ND_MIN_LEN)
    _, base_idx = _texts(rng, vocab, lengths)
    docs: list[list[int]] = list(base_idx)
    clusters: list[list[int]] = []
    seeds = rng.permutation(n_base)
    p = _zipf_p()
    # cluster sizes cycle through 1-3 copies and replacement rates are
    # evenly spaced, so the Jaccard spread is the same for every seed
    rates = rng.permutation(np.linspace(*ND_MUTATE, n_var_target))
    si = 0
    while len(docs) < ND_DOCS:
        seed_doc = int(seeds[si])
        members = [seed_doc]
        for _ in range(min(si % 3 + 1, ND_DOCS - len(docs))):
            src = np.array(docs[seed_doc])
            n_hit = int(round(rates[len(docs) - n_base] * len(src)))
            hit = rng.choice(len(src), size=n_hit, replace=False)
            src[hit] = rng.choice(VOCAB, size=n_hit, p=p)
            members.append(len(docs))
            docs.append(src.tolist())
        clusters.append(members)
        si += 1

    order = rng.permutation(ND_DOCS)  # position -> doc_id
    doc_id = np.empty(ND_DOCS, dtype=np.int64)
    doc_id[order] = np.arange(ND_DOCS)
    texts = [""] * ND_DOCS
    for pos, idx in enumerate(docs):
        texts[doc_id[pos]] = _render(vocab, idx)

    planted = []
    for members in clusters:
        ids = sorted(int(doc_id[m]) for m in members)
        sh = {i: shingles(texts[i]) for i in ids}
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                planted.append((ids[a], ids[b], jaccard(sh[ids[a]], sh[ids[b]])))

    all_ids = np.arange(ND_DOCS)
    per = -(-ND_DOCS // ND_BATCHES)
    for b in range(ND_BATCHES):
        sl = slice(b * per, (b + 1) * per)
        _write(pa.table({"doc_id": pa.array(all_ids[sl], pa.int64()),
                         "text": texts[sl]}),
               root / "arrivals" / f"batch-{b:03d}.parquet")
    js = np.array([j for _, _, j in planted])
    return {
        "docs": ND_DOCS, "corpus_bytes": sum(len(t.encode()) for t in texts),
        "texts": texts, "planted": planted, "batches": ND_BATCHES,
        "planted_pairs": len(planted),
        "planted_above_threshold": int((js >= THRESHOLD).sum()),
        "planted_jaccard_quartiles": [round(float(q), 3) for q in
                                      np.quantile(js, [0.25, 0.5, 0.75])],
    }


GENERATORS = {"feature_build": feature_build, "query_mix": query_mix,
              "neardup_ingest": neardup_ingest}
