"""SRP (stable random projection) embeddings — the reference's feature
F15/F16 (``transformations.py:134-189``, ``extensions.py:12-66``),
re-implemented deterministically and library-free.

Semantics: each distinct token hashes to a stable ±1 vector of ``dim``
entries; a document's embedding is the log1p(count)-weighted sum of its
distinct tokens' vectors.  The sign bit-pack (F16) crushes the float32
vector 32× into ``dim/8`` bytes for Hamming-distance search.

Accumulation order (the bit-identity contract): a row starts from float64
zero and adds its (distinct token, log1p count) pairs in ``np.unique``
order, then is cast to float32 once.  Every row sums alone, so a
document's floats never depend on which other documents share its Arrow
batch, on the batch size, or on ``_BLOCK_ROWS``.

Execution: ``mapInArrow`` over (id, tokens) batches — per-token RNG work
cannot be expressed with built-ins.  The per-partition token→signs cache
makes RNG cost proportional to *distinct* tokens, mirroring the
reference's SRP cache.  ``srp_bits_tokens`` packs the sign bits in the
same pass, so bits need no second Python pass over the float vectors.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, FloatType, StructField, StructType

from nonconsumptive_spark.functions.text import tokenize

SRP_DIM = 1280  # reference transformations.py:147
# rows accumulated together: scratch is _BLOCK_ROWS × dim float64
# whatever the Arrow batch size
_BLOCK_ROWS = 256


def _token_signs(token: str, dim: int) -> np.ndarray:
    """Stable ±1 vector for a token: md5-seeded Philox stream — identical
    on every executor, every run, every machine."""
    seed = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.integers(0, 2, size=dim, dtype=np.int8) * 2 - 1


def _srp_rows(lengths: np.ndarray, flat, dim: int, cache: dict) -> np.ndarray:
    """(rows × dim) float32 embeddings of one batch: row i holds the next
    ``lengths[i]`` tokens of ``flat``.  ``cache`` maps token → int8 signs
    and is shared by a partition's batches.  No float64 array larger than
    _BLOCK_ROWS × dim is built."""
    nrows = len(lengths)
    out = np.zeros((nrows, dim), dtype=np.float32)
    if not len(flat):
        return out
    uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
    for t in uniq:
        if t not in cache:
            cache[t] = _token_signs(t, dim)
    signs = np.stack([cache[t] for t in uniq])  # int8: w × ±1 is exact in float64
    row = np.repeat(np.arange(nrows, dtype=np.int64), lengths)
    pair, counts = np.unique(row * len(uniq) + inv, return_counts=True)
    prow, ptok = np.divmod(pair, len(uniq))
    w = np.log1p(counts)
    npairs = np.bincount(prow, minlength=nrows)
    first = np.cumsum(npairs) - npairs
    for b0 in range(0, nrows, _BLOCK_ROWS):
        n, s = npairs[b0:b0 + _BLOCK_ROWS], first[b0:b0 + _BLOCK_ROWS]
        acc = np.zeros((len(n), dim))
        for k in range(n.max()):  # step k adds each row's k-th pair
            live = np.flatnonzero(n > k)
            p = s[live] + k
            acc[live] += w[p, None] * signs[ptok[p]]
        out[b0:b0 + len(n)] = acc
    return out


def srp_embed_arrow(docs: DataFrame, dim: int = SRP_DIM,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """F15: (id, srp: array<float>[dim]) per document of (id, text).

    Token-less documents (NULL/empty/whitespace) embed to the zero vector
    (the reference emits a sqrt(dim) constant vector for empty text,
    transformations.py:163-165 — an artifact of its hash pipeline we do
    not replicate; documented deviation)."""
    return srp_embed_tokens(docs.select(id_col, tokenize(text_col)), dim)


def _embedded_batches(batches, dim: int):
    """(batch, float32 embeddings) for each Arrow batch of (id, tokens);
    the token→signs cache is shared by all the batches of one partition."""
    import pyarrow.compute as pc

    cache: dict[str, np.ndarray] = {}
    for b in batches:
        tokens = b.column(1)
        lengths = pc.fill_null(pc.list_value_length(tokens), 0).to_numpy()
        yield b, _srp_rows(lengths, pc.list_flatten(tokens).to_pylist(), dim, cache)


def srp_embed_tokens(toks: DataFrame, dim: int = SRP_DIM) -> DataFrame:
    """F15 over an already tokenized (id, tokens: array<string>) frame —
    the entry point for a cached tokenization.  The Python boundary is
    raw Arrow RecordBatches: no pandas in the worker."""
    out_schema = StructType(
        [toks.schema[0], StructField("srp", ArrayType(FloatType()))]
    )

    def gen(batches):
        import pyarrow as pa

        for b, emb in _embedded_batches(batches, dim):
            offs = pa.array(np.arange(len(b) + 1, dtype=np.int32) * dim)
            srp = pa.ListArray.from_arrays(offs, pa.array(emb.ravel()))
            yield pa.RecordBatch.from_arrays([b.column(0), srp],
                                             names=[out_schema[0].name, "srp"])

    return toks.mapInArrow(gen, schema=out_schema)


def srp_bits_tokens(toks: DataFrame, dim: int = SRP_DIM) -> DataFrame:
    """F15 then F16 in one pass over a tokenized (id, tokens) frame:
    (id, srp_bits) equal to ``srp_bits(srp_embed_tokens(toks, dim))``,
    without a second Python pass over the float vectors."""
    out_schema = StructType(
        [toks.schema[0], StructField("srp_bits", BinaryType())]
    )

    def gen(batches):
        import pyarrow as pa

        for b, emb in _embedded_batches(batches, dim):
            packed = np.packbits(emb > 0, axis=1)
            offs = np.arange(len(b) + 1, dtype=np.int32) * packed.shape[1]
            bits = pa.Array.from_buffers(
                pa.binary(), len(b), [None, pa.py_buffer(offs), pa.py_buffer(packed)])
            yield pa.RecordBatch.from_arrays([b.column(0), bits],
                                             names=[out_schema[0].name, "srp_bits"])

    return toks.mapInArrow(gen, schema=out_schema)


def srp_bits(df: DataFrame, vec_col: str = "srp", id_col: str = "doc_id",
             keep_vec: bool = False) -> DataFrame:
    """F16: sign bit-pack — array<float>[dim] → binary[ceil(dim/8)]
    (reference transformations.py:176-189: 1280 floats → 160 bytes), bit
    set where the float is > 0; a NULL vector packs to NULL.  Vectors in
    one batch must share a length.  ``keep_vec=True`` carries the float
    vector through for invariant checks (bit_count(packed) == count of
    positive floats)."""
    cols = [id_col, vec_col] if keep_vec else [id_col]
    out_schema = StructType(
        [df.schema[c] for c in cols] + [StructField("srp_bits", BinaryType())]
    )

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            vecs = b.column(vec_col)
            valid = vecs.is_valid().to_numpy(zero_copy_only=False)
            lengths = pc.fill_null(pc.list_value_length(vecs), 0).to_numpy()[valid]
            dim = int(lengths.max(initial=0))
            if (lengths != dim).any():
                raise ValueError(f"srp_bits: {vec_col} vectors in one batch differ in length")
            flat = pc.list_flatten(vecs).to_numpy(zero_copy_only=False)
            packed = np.packbits(flat.reshape(len(lengths), dim) > 0, axis=1)
            bits = [None] * len(b)
            for i, row in zip(np.flatnonzero(valid), packed):
                bits[i] = row.tobytes()
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in cols] + [pa.array(bits, type=pa.binary())],
                names=cols + ["srp_bits"])

    return df.select(id_col, vec_col).mapInArrow(gen, schema=out_schema)


def hamming_binary(a, b):
    """F17 over BinaryType columns: XOR + popcount, fully JVM-side.  Bytes
    8i+1..8i+8 of each side are read as one signed bigint (``conv`` of
    their hex to base -10) and ``bit_count(x ^ y)`` is summed over the
    chunks; a short last chunk lines up because both sides have the same
    length.  NULL when either side is NULL or the lengths differ, 0 for
    two empty values."""
    from nonconsumptive_spark.functions.text import _as_col

    a, b = _as_col(a), _as_col(b)
    n = F.length(a)

    def chunk(c, i):
        return F.conv(F.hex(F.substring(c, i * 8 + 1, 8)), 16, -10).cast("bigint")

    ham = F.aggregate(
        F.sequence(F.lit(0), F.floor((n - 1) / 8).cast("int")),
        F.lit(0),
        lambda acc, i: acc + F.bit_count(chunk(a, i).bitwiseXOR(chunk(b, i))),
    )
    return F.when(n == F.length(b), F.when(n == 0, F.lit(0)).otherwise(ham))


# ---------------------------------------------------------------------------
# Int8 embedding quantization — the storage/bandwidth lever for ANN at
# scale: 4x smaller vectors (float32 -> int8 + one double scale), with
# dot products computed in integer arithmetic and rescaled afterward.
# Pure column expressions (JVM-side, codegen'd): no UDF anywhere.
# ---------------------------------------------------------------------------
def quantize_int8(vec) -> "F.Column":
    """array<float> -> struct(scale double, q array<int>): symmetric
    per-vector quantization, q_i = floor(v_i/scale + 0.5) with
    scale = max|v|/127 (explicit floor(+0.5) rounding so Spark and DuckDB
    agree bit-for-bit; engine `round()` half-way rules differ).  The zero
    vector quantizes to scale 0 with all-zero codes."""
    from nonconsumptive_spark.functions.text import _as_col, let

    v = _as_col(vec)
    # Bind the scale once: referencing the array_max aggregate inside the
    # per-element lambda would re-reduce the whole vector per element
    # (O(d^2) — the interpreted-HOF trap, see functions.text.let).
    def build(s):
        q = F.transform(
            v, lambda x: F.floor(x.cast("double") / s + F.lit(0.5)).cast("int")
        )
        return F.struct(
            s.alias("scale"),
            F.when(s > 0, q)
            .otherwise(F.transform(v, lambda x: F.lit(0))).alias("q"),
        )

    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    return let(scale, build)


def int8_dot(qa, sa, qb, sb) -> "F.Column":
    """Rescaled integer dot product: sa*sb * sum(qa_i * qb_i).  The inner
    sum stays in BIGINT (exact); only the final rescale touches doubles."""
    acc = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return sa * sb * acc.cast("double")
