"""The eight per-doc feature rows of the gate project ``extract_features``;
their oracles tokenize in SQL. These tests pin the row set on documents the
fixtures lack (empty, one- and two-token, space runs) and the tokenizer
agreement both sides rest on."""

import glob
import os
import sys

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as e

ROWS = ("fo_doc_stats", "fo_entropy_doc", "glcm_contrast_doc", "glcm_imc_doc",
        "glrlm_sre_doc", "glszm_zp_doc", "ngtdm_coarseness_doc", "gldm_sde_doc")

EDGE_DOCS = [
    "",
    "hello",
    "ab cde",
    "  a  bb   ccc  dd ",
    "aaa bbb ccc",
    "the quick brown fox jumps over the lazy dog and then sleeps again",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_docs")
    pd.DataFrame({"doc_id": range(len(EDGE_DOCS)), "text": EDGE_DOCS}).to_parquet(
        d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", ROWS)
def test_row_matches_oracle_on_edge_docs(spark, edge_dir, name):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet'")
    got = e.queries()[name](spark, edge_dir).toPandas()
    want = con.execute(e.oracle_sql()[name]).df()
    assert compare(name, got, want) == []
    assert len(got) >= 4


def test_fixture_tokenization_matches_oracle_tokenizer():
    """The engine splits on any whitespace and measures UTF-8 bytes; the
    oracles split on ' ' (dropping empty pieces) and count characters.
    They agree only on ASCII text separated by spaces alone."""
    paths = sorted(glob.glob("/root/testdata/sf*/documents.parquet"))
    assert paths
    for path in paths:
        texts = pd.read_parquet(path, columns=["text"])["text"]
        bad = [t for t in texts.dropna()
               if not t.isascii() or t.split() != [w for w in t.split(" ") if w]]
        assert not bad, (path, len(bad), bad[0][:80])
