"""Corpus-layer tests: sources, schema inference, CorpusSession transforms,
checkpoint cache semantics, exports — the reference's test strategy
(SURVEY §5) on equivalent synthetic fixtures.
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F

from nonconsumptive_spark.corpus import CorpusSession
from nonconsumptive_spark.plans.checkpoint import CheckpointCache
from nonconsumptive_spark.sources import readers, writers
from nonconsumptive_spark.sources.inference import (
    apply_plans,
    check_unique_ids,
    detect_id_field,
    infer_column_plans,
)

# The reference's test1 corpus: 3 tiny docs, one with a Cyrillic filename,
# 42-token golden total (reference tests/corpora/test1, token slack 42-43).
TEST1 = {
    "a": "The quick brown fox jumps over the lazy dog and then runs far away home",
    "b": "Pack my box with five dozen liquor jugs said the happy brewer every day",
    "г": "каждая счастливая семья похожа друг на друга они все очень рады жить здесь",
}


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus1")
    texts = root / "texts"
    texts.mkdir()
    for k, v in TEST1.items():
        (texts / f"{k}.txt").write_text(v, encoding="utf-8")
    # catalog: int col, date col, list col, low-cardinality category
    cat = root / "catalog.ndjson"
    rows = [
        {"@id": "a", "year": "1850", "date": "1850-03-01", "genre": "novel",
         "keywords": ["fox", "dog"]},
        {"@id": "b", "year": "1851", "date": "1851-04-02", "genre": "novel",
         "keywords": ["box"]},
        {"@id": "г", "year": "1852", "date": "1852-05-03", "genre": "memoir",
         "keywords": "семья"},  # scalar-vs-list conflict on purpose
    ]
    cat.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in rows),
                   encoding="utf-8")
    return root


def test_folder_input(spark, corpus_dir):
    df = readers.read_text_folder(spark, str(corpus_dir / "texts"))
    rows = {r["@id"]: r for r in df.collect()}
    assert set(rows) == {"a", "b", "г"}
    # deterministic ids from lexicographic file order
    assert [r["nc:id"] for _, r in sorted(rows.items())] == sorted(
        r["nc:id"] for r in rows.values()
    )
    total_tokens = df.select(
        F.sum(F.size(F.filter(F.split(readers.TEXT_COL[0:0] or F.col("nc:text"),
                                      r"[^\p{L}]+"), lambda x: x != F.lit("")))
              ).alias("t")
    ).first()["t"]
    assert total_tokens in (41, 42, 43)


def test_folder_input_gzip(spark, tmp_path):
    d = tmp_path / "gz"
    d.mkdir()
    with gzip.open(d / "x.txt.gz", "wt", encoding="utf-8") as f:
        f.write("hello compressed world")
    df = readers.read_text_folder(spark, str(d))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["@id"] == "x"
    assert rows[0]["nc:text"] == "hello compressed world"


def test_tsv_corpus_dedup(spark, tmp_path):
    p = tmp_path / "docs.tsv"
    p.write_text("a\thello there\nb\tsecond doc\na\tduplicate of a\n")
    df = readers.read_tsv_corpus(spark, str(p))
    rows = {r["@id"]: r["nc:text"] for r in df.collect()}
    assert set(rows) == {"a", "b"}  # dup id dropped (reference inputs.py:86-94)
    assert df.count() == 2


def test_mixed_list_normalization(spark, corpus_dir):
    raw = readers.read_catalog(spark, str(corpus_dir / "catalog.ndjson"))
    # Spark infers conflicted keywords col as string; normalize to arrays
    fixed = readers.normalize_mixed_list_columns(raw, ["keywords"])
    rows = {r["@id"]: r["keywords"] for r in fixed.collect()}
    assert rows["a"] == ["fox", "dog"]
    assert rows["г"] == ["семья"]  # scalar wrapped as 1-list


def test_inference_ladder(spark, corpus_dir):
    raw = readers.read_catalog(spark, str(corpus_dir / "catalog.ndjson"))
    plans = {p.name: p for p in infer_column_plans(raw)}
    assert plans["@id"].is_id
    assert plans["year"].target == "smallint"  # 1850 fits int16
    assert plans["date"].target == "date-parse"  # 100% date-shaped
    typed = apply_plans(raw, list(plans.values()))
    dt = dict(typed.dtypes)
    assert dt["year"] == "smallint"
    assert dt["date"] == "date"
    check_unique_ids(typed)


def test_inference_dict_encoding(spark):
    rows = [(str(i), ["x", "y", "z", "x", "y", "x"][i % 6]) for i in range(60)]
    raw = spark.createDataFrame(rows, ["@id", "cat"])
    plans = {p.name: p for p in infer_column_plans(raw)}
    assert plans["cat"].target == "dict"
    assert plans["cat"].dict_code_type == "tinyint"
    typed = apply_plans(raw, list(plans.values()))
    codes = {r["cat"]: r["cat__code"] for r in typed.collect()}
    assert codes["x"] == 0  # most frequent gets code 0
    assert set(codes.values()) == {0, 1, 2}


def test_duplicate_id_hard_error(spark):
    df = spark.createDataFrame([("a",), ("a",)], ["@id"])
    with pytest.raises(ValueError, match="duplicate id"):
        check_unique_ids(df)


def test_id_autodetect():
    assert detect_id_field(["filename", "x"]) == "filename"
    assert detect_id_field(["x", "id"]) == "id"
    assert detect_id_field(["x", "y"]) is None
    assert detect_id_field(["x"], explicit="x") == "x"


def test_corpus_session_end_to_end(spark, corpus_dir, tmp_path):
    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        metadata=str(corpus_dir / "catalog.ndjson"),
        cache_dir=tmp_path / "cache",
        cache_set={"tokenization", "unigrams"},
    )
    # golden token totals (reference tests/test_throughput.py:37-43)
    lengths = cs.run("document_lengths")
    total = lengths.agg(F.sum("nwords")).first()[0]
    assert total in (41, 42, 43)
    # encoding preserves sums (reference tests/test_throughput.py:100-108)
    enc_total = cs.run("encoded_unigrams").agg(F.sum("count")).first()[0]
    assert enc_total == total
    # cache materialization count matches cache_set (tests/test_caching.py)
    cs.run("tokenization")
    cs.run("bigrams")  # not in cache_set -> not materialized
    assert cs.cache.cached_names() == ["tokenization", "unigrams"]
    # catalog join carried metadata through
    cat = cs.run("catalog")
    assert {r["@id"] for r in cat.select("@id").collect()} == {"a", "b", "г"}
    # document accessor
    d = cs.document("a")
    assert d["nc:text"].startswith("The quick")
    assert d["year"] == 1850


def test_checkpoint_policy(spark, tmp_path):
    cache = CheckpointCache(tmp_path / "cp", cache_set={"t1"})
    df = spark.range(10).withColumnRenamed("id", "x")
    out1 = cache.materialize(spark, "t1", df, fingerprint="f1")
    assert out1.count() == 10
    assert cache.is_cached("t1", "f1")
    # passthrough for names outside the policy
    out2 = cache.materialize(spark, "t2", df, fingerprint="f1")
    assert not cache.is_cached("t2")
    assert out2.count() == 10
    # fingerprint change invalidates
    assert not cache.is_cached("t1", "f2")
    out3 = cache.materialize(spark, "t1", df.limit(5), fingerprint="f2")
    assert out3.count() == 5
    assert cache.is_cached("t1", "f2")

    def jobs_of(fn, group):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # a hit reads with the manifest's schema: no inference job, and the
    # same schema a plain parquet read infers
    hit, jobs = jobs_of(lambda: cache.materialize(spark, "t1", df, fingerprint="f2"),
                        "cp-hit")
    assert jobs == 0
    assert hit.schema == spark.read.parquet(str(cache.path_for("t1") / "data")).schema
    assert hit.count() == 5
    # a manifest without a schema is stale: rebuilt once, then a hit
    mf = cache.path_for("t1") / "_nc_manifest.json"
    mf.write_text(json.dumps({"name": "t1", "fingerprint": "f2"}))
    assert not cache.is_cached("t1", "f2")
    assert cache.materialize(spark, "t1", df.limit(3), fingerprint="f2").count() == 3
    assert "schema" in json.loads(mf.read_text())
    hit, jobs = jobs_of(lambda: cache.materialize(spark, "t1", df, fingerprint="f2"),
                        "cp-rebuilt-hit")
    assert jobs == 0 and hit.count() == 3
    # partitioned checkpoints round-trip on a hit (partition column last)
    parts = CheckpointCache(tmp_path / "cp", cache_set={"t3"})
    pdf = df.withColumn("p", (F.col("x") % 3).cast("string"))
    built = parts.materialize(spark, "t3", pdf, fingerprint="f1", partition_by=["p"])
    hit, jobs = jobs_of(
        lambda: parts.materialize(spark, "t3", pdf, fingerprint="f1", partition_by=["p"]),
        "cp-partitioned-hit")
    assert jobs == 0
    # the partition value's type is the one the read-back inferred
    assert hit.schema == built.schema
    assert hit.columns == ["x", "p"]
    assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, built.collect())) \
        == [(x, x % 3) for x in range(10)]


def test_document_lengths_null_text_matches_query_path(spark, tmp_path):
    """CorpusSession's document_lengths follows wc.document_lengths'
    convention: NULL text counts as empty (0 words, not size's -1)."""
    from nonconsumptive_spark.operators import wordcount as wc

    import pyarrow as pa
    import pyarrow.parquet as pq

    stacks = tmp_path / "stacks"
    stacks.mkdir()
    pq.write_table(pa.table({"@id": ["n", "e", "t"], "nc:text": [None, "", "two words"]}),
                   stacks / "s0.parquet")
    cs = CorpusSession(spark, bookstacks=str(stacks), cache_dir=tmp_path / "cache")
    got = {tuple(r) for r in cs.run("document_lengths").collect()}
    want = {tuple(r) for r in
            wc.document_lengths(cs.run("documents"), "nc:id", "nc:text").collect()}
    assert got == want
    assert sorted(n for _, n in got) == [0, 0, 2]


def test_flat_catalog_export(spark, corpus_dir, tmp_path):
    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        metadata=str(corpus_dir / "catalog.ndjson"),
        cache_dir=tmp_path / "cache2",
    )
    cat = cs.run("catalog")
    fixed = readers.normalize_mixed_list_columns(cat, ["keywords"])
    family = writers.flat_catalog(fixed)
    assert "catalog" in family and "fastcat" in family
    assert "keywords" in family  # exploded child table
    kw = family["keywords"].collect()
    assert len(kw) == 4  # fox, dog, box, семья
    fast_cols = family["fastcat"].columns
    assert "nc:id" in fast_cols and "year" in fast_cols


def test_export_stacked_layout(spark, corpus_dir, tmp_path):
    cs = CorpusSession(spark, texts=str(corpus_dir / "texts"),
                       cache_dir=tmp_path / "cache3", stack_size=2)
    docs = cs.run("documents")
    out = tmp_path / "stacked"
    writers.export_stacked(docs, out)
    stacks = sorted(p.name for p in out.iterdir() if p.name.startswith("stack="))
    assert stacks == ["stack=0", "stack=1"]  # 3 docs, stack_size 2
    back = spark.read.parquet(str(out))
    assert back.count() == 3


def test_cli_build_and_query(corpus_dir, tmp_path):
    """python -m nonconsumptive_spark: build materializes targets; query
    list prints the registry (reference commander.py CLI parity)."""
    from nonconsumptive_spark.__main__ import main

    cache = tmp_path / "cli_cache"
    rc = main([
        "build",
        "--texts", str(corpus_dir / "texts"),
        "--cache-dir", str(cache),
        "--targets", "document_lengths",
    ])
    assert rc == 0
    assert (cache / "document_lengths" / "_nc_manifest.json").exists()
    assert main(["query", "list"]) == 0
    assert main(["query", "nope_not_a_query"]) == 2


def test_export_catalog_field_metadata(spark, corpus_dir, tmp_path):
    """Persisted field stats (reference catalog.py:420-428): quantiles for
    numerics land in parquet column metadata AND a JSON sidecar; dict
    columns carry top-values; a version stamp marks the table."""
    import json as _json

    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        metadata=str(corpus_dir / "catalog.ndjson"),
        cache_dir=tmp_path / "cache_meta",
    )
    out = tmp_path / "catalog_out"
    meta = cs.export_catalog(out)

    # year inferred smallint → quantiles at the reference's nine points
    assert "year" in meta and len(meta["year"]["quantiles"]) == 9
    qs = {d["q"]: d["value"] for d in meta["year"]["quantiles"]}
    assert qs[0.0] == 1850 and qs[1.0] == 1852
    assert meta["date"] == {"min": "1850-03-01", "max": "1852-05-03"}

    sidecar = _json.loads((out / "_nc_fields.json").read_text())
    assert sidecar["nonconsumptive"].startswith("nonconsumptive-spark/")
    assert sidecar["fields"]["year"] == meta["year"]

    # Spark restores the column metadata from the parquet footer
    back = spark.read.parquet(str(out))
    fld = {f.name: f.metadata for f in back.schema.fields}
    assert fld["year"]["nonconsumptive"]["quantiles"][0]["value"] == 1850


def test_field_metadata_dict_top_values(spark):
    from nonconsumptive_spark.sources.inference import field_metadata

    df = spark.createDataFrame(
        [(str(i), ["x", "y", "z", "z"][i % 4]) for i in range(40)],
        ["@id", "cat"],
    )
    plans = infer_column_plans(df)
    assert {p.name: p.target for p in plans}["cat"] == "dict"
    meta = field_metadata(df, plans)
    top = meta["cat"]["top_values"]
    # z appears 2x per cycle: top value is z(20), then x(10), y(10)
    assert top[0] == {"value": "z", "count": 20}
    assert [d["value"] for d in top[1:]] == ["x", "y"]


def test_feather_catalog_roundtrip(spark, tmp_path):
    """S6: a feather catalog in the reference's layout (list column +
    `nonconsumptive` schema-metadata marker) reads through the pyarrow
    shim with types and rows intact; the marker is detected footer-only."""
    import pyarrow as pa
    import pyarrow.feather as feather

    tb = pa.table(
        {
            "@id": pa.array(["a", "b", "г"]),
            "year": pa.array([1990, 2001, 2020], type=pa.int16()),
            "keywords": pa.array([["fox", "dog"], [], ["семья"]],
                                 type=pa.list_(pa.string())),
        }
    )
    plain = tmp_path / "cat.feather"
    feather.write_feather(tb, str(plain))
    df = readers.read_catalog(spark, str(plain))
    assert df.count() == 3
    got = {tuple(r) for r in df.select("@id", "year").collect()}
    assert got == {("a", 1990), ("b", 2001), ("г", 2020)}
    kw = dict(
        (r["@id"], r["keywords"]) for r in df.select("@id", "keywords").collect()
    )
    assert kw["a"] == ["fox", "dog"] and kw["г"] == ["семья"]
    assert readers.feather_is_nonconsumptive(str(plain)) is False

    marked = tmp_path / "nc.feather"
    feather.write_feather(
        tb.replace_schema_metadata({b"nonconsumptive": b"{}"}), str(marked)
    )
    assert readers.feather_is_nonconsumptive(str(marked)) is True


def test_flat_catalog_renest_roundtrip(spark, corpus_dir, tmp_path):
    """F14: wide → flat (with saved positions) → wide reconstructs list
    columns exactly, element order included."""
    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        metadata=str(corpus_dir / "catalog.ndjson"),
        cache_dir=tmp_path / "cache_renest",
    )
    cat = cs.run("catalog")
    fixed = readers.normalize_mixed_list_columns(cat, ["keywords"])
    family = writers.flat_catalog(fixed, with_pos=True)
    assert family["keywords"].columns[1] == "pos"
    wide = writers.renest_lists(
        family["keywords"], "nc:id", "keyword", out_col="keywords"
    )
    orig = {
        r["nc:id"]: r["keywords"]
        for r in fixed.select("nc:id", "keywords").collect()
        if r["keywords"]  # docs with no keywords have no child rows
    }
    got = {r["nc:id"]: r["keywords"] for r in wide.collect()}
    assert got == orig and len(got) > 0


def test_messy_parquet_schema_merge(spark, tmp_path):
    """S8: catalog dir whose parquet footers drifted (a column added later)
    still reads as one frame with the union schema."""
    d = str(tmp_path / "messy")
    spark.createDataFrame([(1, "a")], ["id", "name"]).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "b", 3.5)], ["id", "name", "score"]
    ).coalesce(1).write.mode("append").parquet(d)
    df = readers.read_catalog(spark, d, fmt="parquet")
    got = {tuple(r) for r in df.select("id", "name", "score").collect()}
    assert got == {(1, "a", None), (2, "b", 3.5)}


def test_corpus_session_curation_transforms(spark, corpus_dir, tmp_path):
    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        metadata=str(corpus_dir / "catalog.ndjson"),
        cache_dir=tmp_path / "cache",
    )
    for name in ["quality", "lang_id", "fingerprints", "winnow", "dedup_flags",
                 "code_score"]:
        assert name in cs.transforms()
        out = cs.run(name)
        assert out.count() == cs.run("documents").count()
        assert "nc:id" in out.columns
    # lang_id on the English fixture predicts en for the English docs
    preds = {r["nc:id"]: r["pred_lang"] for r in cs.run("lang_id").collect()}
    assert "en" in preds.values()


def test_positional_index_transform_answers_phrase_queries(spark, corpus_dir, tmp_path):
    from nonconsumptive_spark.operators.retrieval import (
        phrase_search,
        phrase_search_indexed,
    )

    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        cache_dir=tmp_path / "cache_pidx",
        cache_set={"positional_index"},
    )
    idx = cs.run("positional_index")
    assert set(idx.columns) == {"term", "nc:id", "pos"}
    docs = cs.run("documents")
    phrase = ["the"]
    got = sorted(map(tuple,
                     phrase_search_indexed(idx, phrase, id_col="nc:id").collect()))
    exp = sorted(map(tuple,
                     phrase_search(docs, phrase, id_col="nc:id",
                                   text_col="nc:text").collect()))
    assert got == exp
    # cached replay returns the same index
    again = sorted(map(tuple, cs.run("positional_index").collect()))
    assert again == sorted(map(tuple, idx.collect()))


def test_compression_and_postings_transforms(spark, corpus_dir, tmp_path):
    cs = CorpusSession(
        spark,
        texts=str(corpus_dir / "texts"),
        cache_dir=tmp_path / "cache_cps",
    )
    comp = cs.run("compression")
    assert set(comp.columns) == {"nc:id", "n_bytes", "comp_bytes", "ratio"}
    assert comp.count() == cs.run("documents").count()
    assert comp.filter("ratio IS NULL OR ratio <= 0").count() == 0
    stats = cs.run("postings_stats")
    assert set(stats.columns) == {"term", "n_docs", "n_postings",
                                  "varint_bytes", "fixed_bytes", "ratio"}
    # accounting identity: postings in the stats == rows in the index
    n_idx = cs.run("positional_index").count()
    n_acc = stats.agg({"n_postings": "sum"}).collect()[0][0]
    assert n_acc == n_idx > 0


def test_orc_catalog_roundtrip(spark, tmp_path):
    from nonconsumptive_spark.sources import readers

    df = spark.createDataFrame(
        [(1, "alpha", 3.5), (2, "beta", None)], "id long, name string, score double")
    path = str(tmp_path / "cat.orc")
    df.write.mode("overwrite").orc(path)
    back = readers.read_catalog(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
