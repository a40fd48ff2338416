"""SRP embedding tests (F15/F16/F17): determinism, shape, bit-pack,
binary Hamming distance."""

from __future__ import annotations

import tracemalloc

import numpy as np
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.embeddings import (
    SRP_DIM,
    _srp_rows,
    _token_signs,
    hamming_binary,
    srp_bits,
    srp_bits_tokens,
    srp_embed_arrow,
    srp_embed_tokens,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world hello"), (2, "totally different text"), (3, "")],
        ["doc_id", "text"],
    )


def _reference_rows(token_lists, dim):
    """Per-row reference embedding: float64 zero, plus log1p(count) × signs
    for each distinct token in np.unique order, cast to float32 once."""
    out = []
    for toks in token_lists:
        acc = np.zeros(dim, dtype=np.float64)
        if toks:
            vals, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
            for t, w in zip(vals, np.log1p(counts)):
                acc += w * _token_signs(t, dim)
        out.append(acc.astype(np.float32))
    return out


def _reference(docs, dim):
    from nonconsumptive_spark.functions.text import tokenize

    rows = docs.select("doc_id", tokenize("text").alias("t")).collect()
    vecs = _reference_rows([r["t"] for r in rows], dim)
    return {r["doc_id"]: v.tolist() for r, v in zip(rows, vecs)}


def test_srp_shape_and_determinism(spark):
    a = {r["doc_id"]: r["srp"] for r in srp_embed_arrow(_docs(spark), dim=64).collect()}
    b = {r["doc_id"]: r["srp"] for r in srp_embed_arrow(_docs(spark), dim=64).collect()}
    assert all(len(v) == 64 for v in a.values())
    for k in a:
        assert np.allclose(a[k], b[k])
    # empty doc -> zero vector (documented deviation from reference)
    assert np.allclose(a[3], np.zeros(64))
    # same token multiset -> same embedding; different text -> different
    assert not np.allclose(a[1], a[2])


def test_srp_arrow_matches_reference(spark):
    """The mapInArrow path must reproduce the per-row reference embedding
    bit-for-bit (same accumulation order: each row alone, distinct tokens
    in np.unique's lexicographic order)."""
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    ref = _reference(docs, 64)
    fast = {r["doc_id"]: r["srp"] for r in srp_embed_arrow(docs, dim=64).collect()}
    assert set(ref) == set(fast)
    for k in ref:
        assert ref[k] == fast[k], k  # exact float32 equality, not allclose
    # empty/edge docs too
    e_ref = _reference(_docs(spark), 32)
    e_fast = {
        r["doc_id"]: r["srp"]
        for r in srp_embed_arrow(_docs(spark), dim=32).collect()
    }
    assert e_ref == e_fast


def test_srp_rows_memory_is_bounded_by_block():
    """2,000 rows of the same 50 distinct tokens at dim 128: the kernel's
    peak allocation stays O(block × dim).  The earlier formulation built
    ``w[:, None] * M[ptok]`` — one float64 row of dim values per
    (row, distinct token) pair — and peaked above 200 MB on this input."""
    rows = [[f"w{i}" for i in range(50)] for _ in range(2000)]
    lengths = np.full(len(rows), 50)
    flat = [t for r in rows for t in r]
    tracemalloc.start()
    try:
        got = _srp_rows(lengths, flat, 128, {})
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, peak
    assert np.array_equal(got, np.stack(_reference_rows(rows, 128)))


def test_srp_default_dim(spark):
    one = srp_embed_arrow(_docs(spark).limit(1)).first()
    assert len(one["srp"]) == SRP_DIM  # 1280, reference transformations.py:147


def test_srp_bits_packing(spark):
    emb = srp_embed_arrow(_docs(spark), dim=64)
    bits = {r["doc_id"]: r["srp_bits"] for r in srp_bits(emb).collect()}
    assert all(len(v) == 8 for v in bits.values())  # 64 bits -> 8 bytes
    # recompute expected packing for doc 1
    vec = {r["doc_id"]: r["srp"] for r in emb.collect()}[1]
    expected = bytes(np.packbits((np.asarray(vec) > 0).astype(np.uint8)))
    assert bits[1] == expected
    # a NULL vector packs to NULL; keep_vec carries every vector through
    vecs = spark.createDataFrame(
        [(1, vec), (2, None), (3, [0.0] * 64)], "doc_id long, srp array<float>")
    kept = {r["doc_id"]: r for r in srp_bits(vecs, keep_vec=True).collect()}
    assert kept[1]["srp"] == vec and kept[1]["srp_bits"] == expected
    assert kept[2]["srp"] is None and kept[2]["srp_bits"] is None
    assert kept[3]["srp_bits"] == bytes(8)


def test_srp_bits_tokens_equals_two_passes(spark):
    """The one-pass embed-and-pack gives the bits of the embedding pass
    then the packing pass, for NULL, empty and normal token arrays, across
    batch boundaries."""
    toks = spark.createDataFrame(
        [(i, None if i % 7 == 0 else [f"t{j}" for j in range(i % 5)] + ["x"] * (i % 3))
         for i in range(60)], "doc_id long, toks array<string>").repartition(3)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        for dim in (64, 100):
            one = {r["doc_id"]: r["srp_bits"] for r in srp_bits_tokens(toks, dim).collect()}
            two = {r["doc_id"]: r["srp_bits"] for r in
                   srp_bits(srp_embed_tokens(toks, dim)).collect()}
            assert one == two and len(one) == 60
            assert {len(v) for v in one.values()} == {-(-dim // 8)}
            assert one[0] == bytes(-(-dim // 8))  # NULL tokens: the zero vector
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_worker_imports_of_srp_code_load_no_pandas():
    """A Python worker unpickling the SRP mapInArrow code imports this
    package's functions modules; none of them may load pandas."""
    import subprocess
    import sys
    from pathlib import Path

    code = ("import sys, pyspark.worker, nonconsumptive_spark.functions.embeddings; "
            "print('pandas' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         check=True, cwd=Path(__file__).resolve().parents[1])
    assert out.stdout.strip() == "False"


def test_hamming_binary(spark):
    df = spark.createDataFrame(
        [(bytearray(b"\x00\xff"), bytearray(b"\x0f\xff")),
         (bytearray(b"\x00\x00"), bytearray(b"\x00\x00"))],
        ["a", "b"],
    )
    # lengths on both sides of each 8-byte chunk boundary, all-ones
    # against all-zeros (a chunk whose bigint is -1), NULLs, unequal
    # lengths (NULL) and two empty values (0)
    rnd = np.random.default_rng(3)
    pairs = [(rnd.bytes(n), rnd.bytes(n)) for n in (1, 3, 7, 8, 9, 16, 17, 160, 256)]
    pairs += [(b"\xff" * n, bytes(n)) for n in (1, 8, 9, 160)]
    pairs += [(b"", b""), (None, b"ab"), (b"ab", None), (None, None), (b"abc", b"ab"),
              (b"", b"a")]

    def popcount_xor(a, b):
        if a is None or b is None or len(a) != len(b):
            return None
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    edge = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, a binary, b binary")
    want = {i: popcount_xor(a, b) for i, (a, b) in enumerate(pairs)}
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = [r["h"] for r in
                   df.select(hamming_binary("a", "b").alias("h")).collect()]
            assert got == [4, 0], ansi
            out = edge.select("i", hamming_binary(F.col("a"), F.col("b")).alias("h"))
            assert out.schema["h"].dataType.typeName() == "integer", ansi
            assert dict(map(tuple, out.collect())) == want, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_hamming_on_srp_bits(spark):
    emb = srp_bits(srp_embed_arrow(_docs(spark), dim=128))
    a = emb.select(F.col("doc_id").alias("ia"), F.col("srp_bits").alias("ba"))
    b = emb.select(F.col("doc_id").alias("ib"), F.col("srp_bits").alias("bb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib")).select(
        "ia", "ib", hamming_binary("ba", "bb").alias("h")
    )
    rows = {(r["ia"], r["ib"]): r["h"] for r in pairs.collect()}
    assert all(0 <= v <= 128 for v in rows.values())
    # doc1 vs doc2 share no tokens: expect ~half the bits to differ
    assert 20 <= rows[(1, 2)] <= 108


# ---------------------------------------------------------------------------
class TestInt8Quantization:
    def test_reconstruction_error_bounded(self, spark):
        import numpy as np
        from nonconsumptive_spark.operators.similarity import quantized_vectors
        from tests.conftest import SF_SMALL

        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        joined = quantized_vectors(emb).join(emb, "vec_id").collect()
        for r in joined:
            v = np.asarray(r.embedding, dtype=np.float64)
            rec = np.asarray(r.q, dtype=np.float64) * r.scale
            denom = np.linalg.norm(v)
            if denom == 0:
                assert r.scale == 0 and not rec.any()
                continue
            # worst-case per-element error is scale/2 = max|v|/254
            assert np.linalg.norm(v - rec) / denom < 0.01
            assert max(abs(q) for q in r.q) <= 127

    def test_zero_vector_quantizes_to_zero(self, spark):
        from nonconsumptive_spark.operators.similarity import quantized_vectors

        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
            "vec_id long, embedding array<float>",
        )
        rows = {r.vec_id: r for r in quantized_vectors(df).collect()}
        assert rows[1].scale == 0.0 and rows[1].q == [0, 0, 0]
        assert rows[2].q[1] == -127  # max-magnitude element hits the rail

    def test_quantized_knn_recall_near_exact(self, spark):
        from pyspark.sql import functions as F
        from nonconsumptive_spark.operators import similarity as sim
        from tests.conftest import SF_SMALL

        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {(r.query_id, r.neighbor_id)
                 for r in sim.knn_bruteforce(emb, queries, k=5).collect()}
        quant = {(r.query_id, r.neighbor_id)
                 for r in sim.knn_quantized(emb, queries, k=5).collect()}
        assert len(exact & quant) / len(exact) >= 0.9
