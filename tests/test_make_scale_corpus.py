"""tools/make_scale_corpus: replica token remap and source-dir checks."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tools.make_scale_corpus import _remap_text, main


def test_remap_prefixes_every_whitespace_token():
    # space-only texts keep the space-split form byte for byte
    text = "a  b c "
    assert _remap_text(text, 1) == " ".join(
        "qbq" + t if t else t for t in text.split(" "))
    # tokens after tabs and newlines are prefixed too, separators kept
    assert _remap_text("one\ttwo\nthree \t four", 1) == "qbqone\tqbqtwo\nqbqthree \t qbqfour"
    assert _remap_text(None, 1) is None and _remap_text("", 1) == ""


def test_missing_authority_table_is_named(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_custkey": [5, 6]}),
                   src / "orders.parquet")
    with pytest.raises(ValueError, match=r"orders\.o_custkey .*customer:c_custkey"):
        main(["--src", str(src), "--out", str(tmp_path / "out"), "--replicas", "2"])


def test_replicas_offset_keys_and_remap_text(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"doc_id": [0, 1], "text": ["x\ty", None],
                             "n_chars": [3, None]}), src / "documents.parquet")
    main(["--src", str(src), "--out", str(tmp_path / "out"), "--replicas", "2"])
    got = pq.read_table(tmp_path / "out" / "documents.parquet" / "part-1.parquet")
    assert got.to_pydict() == {"doc_id": [2, 3], "text": ["qbqx\tqbqy", None],
                               "n_chars": [9, None]}
