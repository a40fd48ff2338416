"""Input connectors (SURVEY §2.1 S1-S8), Spark-native.

Determinism is a hard invariant inherited from the reference
(``inputs.py:29-33``): document order — and therefore ``nc:id`` — derives
from the lexicographic file/path order, never from task scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TEXT_COL = "nc:text"  # reference's reserved text column name


def _ordered_ids(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Attach dense ``nc:id`` by an explicit deterministic sort key.

    Scale note: ``row_number`` over a global window is a single-partition
    sort — fine for catalogs (≤ millions of rows).  For corpus-scale id
    assignment use ``assign_dense_ids`` (per-partition offsets, the
    reference's own trick at catalog.py:278-297)."""
    w = Window.orderBy(*order_cols)
    return df.withColumn("nc:id", (F.row_number().over(w) - 1).cast("long"))


def assign_dense_ids(df: DataFrame, order_cols: list[str], id_name: str = "nc:id") -> DataFrame:
    """Dense 0..N-1 ids without a global single-partition sort: range-
    repartition by the sort key, sort within partitions, then add
    per-partition offsets (computed from partition counts) to local row
    numbers.  Two narrow jobs + one count job; no row ever passes through
    a single reducer.  (The reference's serialize_to_feather id scheme,
    catalog.py:286-288, distributed.)"""
    from pyspark.sql.types import LongType, StructField, StructType

    parted = df.repartitionByRange(*[F.col(c) for c in order_cols]) \
               .sortWithinPartitions(*order_cols)

    schema = StructType(parted.schema.fields + [StructField("__local_rn", LongType())])

    def add_local_rn(it):
        i = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf["__local_rn"] = range(i, i + len(pdf))
            i += len(pdf)
            yield pdf

    # materialize BEFORE the sizes job: the offsets collected below and the
    # final projection would otherwise run as two separate executions of
    # this plan, and RangePartitioning re-samples boundaries per execution
    # — on nondeterministically-ordered input (e.g. shuffle output) the
    # second run's partition sizes need not match the collected offsets,
    # yielding non-dense or colliding ids
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    with_rn = materialize_once(
        parted.mapInPandas(add_local_rn, schema=schema), "dense_ids"
    )
    sizes = with_rn.groupBy(F.spark_partition_id().alias("__pid")).count()
    # cumulative offsets are tiny (one row per partition): compute on driver
    offsets = {r["__pid"]: r["count"] for r in sizes.collect()}
    cum, acc = {}, 0
    for pid in sorted(offsets):
        cum[pid] = acc
        acc += offsets[pid]
    if not cum:
        # empty input: create_map() with zero entries types as
        # map<void,void> and map()[spark_partition_id()] fails ANALYSIS
        # even though no row would evaluate it — short-circuit with the
        # right schema
        return with_rn.withColumn(id_name, F.col("__local_rn").cast("long"))                       .drop("__local_rn")
    mapping = F.create_map(
        *[F.lit(x) for kv in cum.items() for x in kv]
    )
    return (
        with_rn.withColumn(
            id_name,
            (mapping[F.spark_partition_id()] + F.col("__local_rn")).cast("long"),
        )
        .drop("__local_rn")
    )


def read_text_folder(spark: SparkSession, path: str, fmt: str = "txt") -> DataFrame:
    """S1: folder of ``<id>.<fmt>[.gz]`` text files → (@id, nc:text, nc:id).

    Uses the ``text`` source with wholetext (gzip decoded transparently);
    @id = basename minus extension(s) via regexp_extract — no Python in
    the read path.  Reference: inputs.py:100-149."""
    df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", f"*.{fmt}*")
        .load(path)
        .select(
            F.regexp_extract(
                F.input_file_name(), rf"([^/]+?)\.{fmt}(\.gz)?$", 1
            ).alias("@id"),
            F.col("value").alias(TEXT_COL),
            F.input_file_name().alias("__file"),
        )
    )
    return _ordered_ids(df, ["__file"]).drop("__file")


def read_tsv_corpus(spark: SparkSession, path: str) -> DataFrame:
    """S2: Mallet-style one-doc-per-line ``id\\ttext`` → (@id, nc:text,
    nc:id); duplicate ids dropped (reference inputs.py:86-94 warns +
    skips).  Text may itself contain tabs: everything after the FIRST tab
    is the document.  Order (and hence nc:id) is by @id — deterministic
    under Spark's unordered line reads."""
    raw = (
        spark.read.format("text").load(path)
        .select(
            F.split_part(F.col("value"), F.lit("\t"), F.lit(1)).alias("@id"),
            F.expr("substring(value, instr(value, '\t') + 1)").alias(TEXT_COL),
        )
        .filter(F.col("@id") != "")
    )
    dedup = raw.groupBy("@id").agg(F.min(TEXT_COL).alias(TEXT_COL))
    return _ordered_ids(dedup, ["@id"])


def normalize_mixed_list_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """S4's string-vs-array NDJSON conflict, declaratively: Spark infers a
    conflicted column as a JSON-ish string; rewrite scalars as 1-element
    arrays (reference catalog.py:544-557 rewrites the *file* and re-parses
    — we rewrite the column in-plan)."""
    out = df
    for c in columns:
        is_arr = F.col(c).startswith("[")
        parsed = F.from_json(F.col(c), "array<string>")
        out = out.withColumn(
            c,
            F.when(F.col(c).isNull(), F.lit(None).cast("array<string>"))
            .when(is_arr, parsed)
            .otherwise(F.array(F.col(c))),
        )
    return out


def read_catalog(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """S4/S5/S6/S8: catalog reader dispatch by suffix (reference
    catalog.py:157-176).  Returns the raw (pre-inference) frame."""
    p = path.lower()
    fmt = fmt or (
        "ndjson" if p.endswith((".ndjson", ".ndjson.gz", ".jsonl", ".jsonl.gz"))
        else "csv" if p.endswith((".csv", ".csv.gz", ".tsv", ".tsv.gz"))
        else "parquet" if p.endswith(".parquet")
        else "feather" if p.endswith(".feather")
        else "orc" if p.endswith(".orc")
        else None
    )
    if fmt == "ndjson":
        return spark.read.json(path)
    if fmt == "csv":
        sep = "\t" if ".tsv" in p else ","
        return spark.read.option("header", "true").option("sep", sep).csv(path)
    if fmt == "parquet":
        # S8: tolerate footer drift across files
        return spark.read.option("mergeSchema", "true").parquet(path)
    if fmt == "feather":
        return read_feather_catalog(spark, path)
    if fmt == "orc":
        # Spark-native columnar alternative; same mergeSchema tolerance
        return spark.read.option("mergeSchema", "true").orc(path)
    raise ValueError(f"cannot sniff catalog format for {path}")


def feather_is_nonconsumptive(path: str) -> bool:
    """S6: the reference marks its own feather caches with a schema-metadata
    key ``b"nonconsumptive"`` and skips re-inference for them (reference
    catalog.py:168-176, 220-221, 259-260).  Footer-only read — no data."""
    import pyarrow.ipc as ipc

    with ipc.open_file(path) as rd:
        return b"nonconsumptive" in (rd.schema.metadata or {})


def read_feather_catalog(spark: SparkSession, path: str) -> DataFrame:
    """S6: feather/Arrow-IPC catalog shim.  Spark has no feather source, so
    the file is read via pyarrow on the driver and handed to
    ``createDataFrame`` — Arrow-native in Spark 4 (zero-copy batches), with
    a pandas fallback for types the Arrow path rejects.  Catalogs are
    metadata-sized; corpus-scale data standardizes on parquet (SURVEY S6).
    Use ``feather_is_nonconsumptive`` to skip schema re-inference for the
    reference's own caches."""
    import pyarrow.feather as feather

    tb = feather.read_table(path)
    try:
        return spark.createDataFrame(tb)
    except Exception:
        return spark.createDataFrame(tb.to_pandas())


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per session
    and file state: later reads of the unchanged path pass the stored
    schema and launch no footer-reading job (the reference likewise skips
    re-inference of its own typed caches, ``feather_is_nonconsumptive``).
    The memo is the session cache's (``plans/ranker_cache.shared_schema``);
    its key carries ``nanosAsLong``, which changes the type inferred for
    a nanosecond timestamp."""
    from nonconsumptive_spark.plans.ranker_cache import shared_schema

    def read(schema):
        return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)

    return shared_schema(path, (spark.conf.get(NANOS_AS_LONG, "false"),), read)


def read_parquet_bookstacks(spark: SparkSession, path: str) -> DataFrame:
    """S7: directory of parquet files = pre-partitioned corpus; lexicographic
    file order defines doc order (reference bookstack.py:123-127); adds
    ``nc:id`` and a ``stack`` column derived from the source file.  The
    directory's schema is inferred once per session and file state
    (``read_parquet``)."""
    df = read_parquet(spark, path).withColumn(
        "stack",
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.parquet$", 1),
    )
    # tie-break inside a stack on @id when present: a stack file larger
    # than maxPartitionBytes reads as several splits, and rows tying on
    # the sort key would take shuffle-fetch order — intra-stack nc:id
    # would permute across runs, breaking the module's determinism
    # invariant
    order_cols = ["stack"] + (["@id"] if "@id" in df.columns else [])
    return _ordered_ids(df, order_cols)
