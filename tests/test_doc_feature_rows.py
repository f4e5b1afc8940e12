"""The per-doc gate rows that project ``extract_features``,
``voxel_feature_maps`` or ``melt_features`` tokenize in the engine; their
oracles tokenize in SQL. These tests pin the row set on documents the
fixtures lack (empty, one- and two-token, space runs, a token over the
gray-level cap) and the fixture preconditions both sides rest on."""

import glob
import os
import sys

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as e
from pyradiomics_spark.config import ExtractionSettings

SPACE_RUNS = "  a  bb   ccc  dd "
LONG_TOKEN = "a " + "x" * 300 + " abc"

EDGE_DOCS = [
    "",
    "hello",
    "ab cde",
    SPACE_RUNS,
    "aaa bbb ccc",
    "the quick brown fox jumps over the lazy dog and then sleeps again",
    LONG_TOKEN,
]

_LEVEL_ROWS = ("fo_doc_stats", "fo_entropy_doc", "glcm_contrast_doc",
               "glcm_imc_doc", "glrlm_sre_doc", "glszm_zp_doc",
               "ngtdm_coarseness_doc", "gldm_sde_doc")

#: row → the edge docs outside its preconditions: rows that read gray
#: levels at bin_width=1 NaN a doc over the cap, which the oracles lack,
#: and the oracles' ``pos`` counts the empty pieces of a space run
ROWS = {
    **{name: (LONG_TOKEN,) for name in _LEVEL_ROWS},
    "square_rescale": (),
    "resegment": (),
    "wavelet_haar": (),
    "melt": (),
    "seqshape": (SPACE_RUNS,),
    "voxel_entropy": (SPACE_RUNS, LONG_TOKEN),
}


@pytest.fixture(scope="module")
def edge_dirs(tmp_path_factory):
    """{skipped docs: dir of a documents table of the other edge docs},
    doc_id fixed by the position in ``EDGE_DOCS``."""
    dirs = {}
    for skip in set(ROWS.values()):
        d = tmp_path_factory.mktemp("edge_docs")
        pd.DataFrame([(i, t) for i, t in enumerate(EDGE_DOCS) if t not in skip],
                     columns=["doc_id", "text"]).to_parquet(
            d / "documents.parquet", index=False)
        dirs[skip] = str(d)
    return dirs


@pytest.mark.parametrize("name", ROWS)
def test_row_matches_oracle_on_edge_docs(spark, edge_dirs, name):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare

    edge_dir = edge_dirs[ROWS[name]]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet'")
    got = e.queries()[name](spark, edge_dir).toPandas()
    want = con.execute(e.oracle_sql()[name]).df()
    assert compare(name, got, want) == []
    assert len(got) >= 4


def test_fixture_tokenization_matches_oracle_tokenizer():
    """The engine splits on any whitespace and measures UTF-8 bytes; the
    oracles split on ' ' (dropping empty pieces) and count characters.
    They agree only on ASCII text separated by spaces alone. The
    positional rows (seqshape, voxel_entropy) also need no empty piece,
    since the oracles' ``pos`` counts it and the engine's does not; the
    rows that read gray levels at bin_width=1 need every doc's
    token-length range within the engine's gray-level cap."""
    cap = ExtractionSettings().max_gray_levels
    paths = sorted(glob.glob("/root/testdata/sf*/documents.parquet"))
    assert paths
    for path in paths:
        texts = pd.read_parquet(path, columns=["text"])["text"].dropna()
        bad = [t for t in texts
               if not t.isascii() or t.split() != [w for w in t.split(" ") if w]]
        assert not bad, (path, len(bad), bad[0][:80])
        runs = [t for t in texts if "" in t.split(" ")]
        assert not runs, (path, len(runs), runs[0][:80])
        wide = [t for t in texts
                if max(map(len, t.split())) - min(map(len, t.split())) + 1 > cap]
        assert not wide, (path, len(wide), wide[0][:80])
