"""Tokenization and n-gram column functions.

Parity target: the reference's regex tokenizer, which splits text on runs of
non-letter characters (reference ``nonconsumptive/transformations.py:32-33``,
the no-blingfire path).  Everything here is built-in column expressions —
JVM-side, zero Python in the hot path.  The higher-order functions
(``transform``, ``filter``, ``zip_with``, ``aggregate``) are
``CodegenFallback`` on Spark 4.1: they are evaluated interpreted, per
element, inside an otherwise whole-stage-codegen'd stage.

Scale notes: tokenization is a narrow map (no shuffle).  N-grams are built
*inside the token array* with ``transform(sequence(...))`` rather than with
``lead() OVER (PARTITION BY doc)`` — the window formulation would shuffle
every exploded token on doc_id; the array formulation shuffles nothing.
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column
from pyspark.sql import functions as F

# Split on runs of non-letters; identical semantics in Java regex (Spark)
# and RE2 (DuckDB oracle: '[^\pL]+').  Reference: transformations.py:32-33.
TOKEN_REGEX = r"[^\p{L}]+"


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _series_udf(return_type, fn):
    """``pandas_udf`` of a one-argument Series → Series function.  pandas
    is imported here, when a UDF is built, not with this module: Python
    workers import the module to unpickle mapInArrow code and do not need
    pandas.  The hints are set as objects, since string hints would
    resolve against module globals, where ``pd`` is not."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    (arg,) = inspect.signature(fn).parameters
    fn.__annotations__ = {arg: pd.Series, "return": pd.Series}
    return pandas_udf(fn, return_type)


def let(col: Column, fn) -> Column:
    """Bind ``col`` to a lambda variable and evaluate ``fn`` on it — a
    poor-man's `let` expression.

    Why: Catalyst's CollapseProject inlines a projected column into every
    downstream reference, and *interpreted* higher-order-function lambdas
    re-evaluate that inlined subtree on every element access.  An n-gram
    built as ``element_at(tokenize(text), i)`` inside ``transform`` would
    therefore re-run the regex split once per token — O(n²) per document
    (measured: 16× slowdown on the shingle pipeline).  Wrapping the value
    in a 1-element array and accessing it through a lambda variable forces
    exactly one evaluation per row."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def tokenize(text: Column | str) -> Column:
    """text -> array<string> of tokens (empty strings dropped).

    Leading/trailing separators produce empty split elements in both Spark
    and DuckDB; the filter removes them so positions agree engine-to-engine.
    """
    return F.filter(F.split(_as_col(text), TOKEN_REGEX), lambda x: x != F.lit(""))


# F3: the reference's second fallback tokenizer (document.py:79-80):
# word runs OR punctuation runs — `re.findall(r"[\w^_]+|[^\w\s]+")`.
# Python's \w there is UNICODE (Cyrillic text tokenizes as words), while
# Java's and RE2's \w is ASCII-only — so spell the class out as
# \p{L}\p{N}_ (letters, numbers, underscore), which all three engines
# support and which matches the reference's behavior on non-ASCII text.
FALLBACK_TOKEN_REGEX = r"[\p{L}\p{N}^_]+|[^\p{L}\p{N}_\s]+"


def tokenize_fallback(text: Column | str) -> Column:
    """F3: text -> array<string> of word-or-punctuation runs via
    regexp_extract_all (reference document.py:79-80).  Unlike ``tokenize``
    (F1), punctuation survives as its own tokens and digits/underscores
    count as word characters."""
    return F.regexp_extract_all(_as_col(text), F.lit(FALLBACK_TOKEN_REGEX), 0)


try:  # F2: blingfire tokenizer (reference transformations.py:29-62).
    import blingfire as _blingfire  # noqa: F401

    HAS_BLINGFIRE = True
except ImportError:  # not installed in this container; F1 is the
    _blingfire = None  # documented canonical fallback (±1-token slack in
    HAS_BLINGFIRE = False  # the reference's own tests, test_throughput.py:43)


def tokenize_blingfire(text: Column | str) -> Column:
    """F2: blingfire ``text_to_words`` then split on space, as a pandas_udf
    (C library call — cannot be a built-in expression).  Raises at *plan
    build* time when blingfire is absent so callers fail fast; use
    ``HAS_BLINGFIRE`` to gate."""
    if not HAS_BLINGFIRE:
        raise ModuleNotFoundError(
            "blingfire is not installed; use tokenize() (F1 regex path) — "
            "the reference's own tests accept the ±1-token difference "
            "(test_throughput.py:43)"
        )
    from pyspark.sql.types import ArrayType, StringType

    def bf_udf(texts):
        return texts.map(
            lambda t: _blingfire.text_to_words(t).split(" ") if t else []
        )

    return _series_udf(ArrayType(StringType()), bf_udf)(_as_col(text))


def nfc_normalize(text: Column | str) -> Column:
    """Unicode NFC normalization — the text-cleaning step every ingest
    pipeline runs before hashing/dedup (composed vs decomposed forms of
    the same glyph hash differently).  Spark has no built-in Unicode
    normalizer, so this is a pandas_udf over ``unicodedata`` (stdlib —
    the sanctioned slow path; DuckDB's native ``nfc_normalize`` serves as
    the oracle)."""
    import unicodedata

    def nfc_udf(texts):
        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _series_udf("string", nfc_udf)(_as_col(text))


def tokens_with_pos(df, id_col: str, text_col: str, pos_col: str = "pos", token_col: str = "token"):
    """Explode a text column into (id, pos, token) rows; pos is 1-based to
    match DuckDB's ``generate_subscripts``."""
    return (
        df.select(id_col, F.posexplode(tokenize(text_col)).alias("__p0", token_col))
        .withColumn(pos_col, (F.col("__p0") + 1).cast("int"))
        .drop("__p0")
    )


def ngram_structs(tokens: Column | str, n: int) -> Column:
    """array<string> tokens -> array<struct<w0..w{n-1}:string>> of adjacent
    n-grams, computed entirely inside the array (no shuffle, no window).

    Equivalent to the reference's polars shift(-i).over(doc) construction
    (reference transformations.py:229-240) but expressed as a Catalyst
    higher-order function, so it is a narrow per-row map (interpreted —
    ``transform`` is CodegenFallback — but linear in the tokens).
    """
    col = _as_col(tokens)

    # `let` binds the token array once per row; referencing `col` directly
    # inside the lambdas would re-evaluate the tokenizer per element (O(n²)).
    def build(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.struct(*[F.element_at(t, i + j).alias(f"w{j}") for j in range(n)]),
        )
        # sequence(1, 0) would yield a DESCENDING [1,0] in Spark, so docs
        # shorter than n must short-circuit to an empty array instead.
        return F.when(F.size(t) >= n, grams).otherwise(F.array())

    return let(col, build)


def normalize_unicode(text: Column | str, form: str = "NFC") -> Column:
    """Unicode-normalize a string column (NFC/NFD/NFKC/NFKD) — the
    preprocessing step exact dedup and shingle hashing need before any
    byte-level comparison: visually identical strings with different
    codepoint sequences (composed vs combining accents, ligatures,
    fullwidth forms) must hash identically or every dedup operator
    under-merges.

    No Catalyst built-in exists for this, so it is the sanctioned
    Python path: an Arrow-batched pandas_udf over ``unicodedata``
    (C-implemented, one call per value, no per-row Python parsing).
    NULLs pass through as NULL.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm(s):
        import unicodedata

        return s.map(lambda v: None if v is None
                     else unicodedata.normalize(form, v))

    return _series_udf("string", _norm)(_as_col(text))


def strip_accents(text: Column | str) -> Column:
    """Remove combining marks (NFD-decompose, drop category Mn,
    NFC-recompose) — 'école' -> 'ecole'.  Matches DuckDB's
    ``strip_accents`` on composed input, which keeps the cross-engine
    oracle honest.  Same Arrow-batched pandas_udf path as
    ``normalize_unicode``; NULLs pass through."""

    def _strip(s):
        import unicodedata

        def one(v):
            if v is None:
                return None
            decomp = unicodedata.normalize("NFD", v)
            kept = "".join(c for c in decomp
                           if unicodedata.category(c) != "Mn")
            return unicodedata.normalize("NFC", kept)

        return s.map(one)

    return _series_udf("string", _strip)(_as_col(text))
