"""No test-only package API: every public top-level def in the package is
referenced by code outside ``tests/`` (the package itself, the driver
entry, ``bench*.py``, ``tools/`` and ``perfbench/``), or is listed in
``KEPT`` with the reason it stays. A reference is a Name, an Attribute or
an import alias, so a mention in a docstring or comment does not count,
and neither does a def calling itself. Names are matched by identifier,
not by module."""

import ast
from pathlib import Path

import pyradiomics_spark

PKG = Path(pyradiomics_spark.__file__).parent
ROOT = PKG.parent

#: (module path under the package, def name) → why it stays with no
#: caller outside tests
KEPT = {
    ("functions/textstats.py", "doc_fingerprint"):
        "public API: whole-document normalized-text sha256 fingerprint",
    ("functions/wavelets.py", "swt1_fft"):
        "reference twin of swt1 (FFT path), the wavelet parity oracle",
    ("operators/clustering.py", "kmeans_fit"):
        "public API: trains the coarse quantizer ivf_topk takes",
    ("operators/decomp.py", "pca_fit"):
        "public API: exact corpus PCA fit",
    ("operators/decomp.py", "pca_project"):
        "public API: applies pca_fit's components",
    ("operators/dedup.py", "incremental_dedup"):
        "public API: recurring-crawl dedup (the gate row is an md5 copy)",
    ("operators/dedup.py", "simhash_signatures"):
        "production xxhash64 twin of the gate's simhash_signatures_md5",
    ("operators/diff.py", "diff_summary"):
        "public API: status census of a snapshot_diff output",
    ("operators/layout.py", "zorder_repartition"):
        "public API: Morton-key write layout",
    ("operators/leakage.py", "assert_no_leakage"):
        "public API: raising form of audit_cut for pipeline checks",
    ("operators/salting.py", "skew_stats"):
        "public API: per-key skew factor that decides salting",
    ("operators/sketches.py", "hll_estimate"):
        "public API: cardinality from an HLL register table",
    ("operators/sketches.py", "kmv_merge"):
        "public API: exact merge of two KMV sketches",
    ("operators/training.py", "sigmoid"):
        "driver-side twin of the row expression, the training parity oracle",
    ("sources/sinks.py", "affected_partitions"):
        "public API: lineage rows a late-data window touches",
    ("sources/sinks.py", "read_table"):
        "public API: reads a catalog table or a parquet path",
    ("sources/sinks.py", "recompute_affected_partitions"):
        "public API: late-data recompute by dynamic partition overwrite",
    ("sources/sinks.py", "write_bucketed"):
        "public API: bucketed table for shuffle-free co-located joins",
    ("streaming/sessions.py", "stream_training_pipeline"):
        "public API: streaming dedup → extraction pipeline",
    ("streaming/stateful.py", "batch_entity_stats"):
        "reference twin of running_entity_stats (batch parity oracle)",
}


def _sources() -> list:
    files = [*PKG.rglob("*.py"), ROOT / "__spark_entry__.py",
             *ROOT.glob("bench*.py"), *(ROOT / "tools").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    return [f for f in files if "tests" not in f.relative_to(ROOT).parts]


def _public_defs() -> set:
    """{(module path under the package, name)} of public top-level defs."""
    return {
        (f.relative_to(PKG).as_posix(), node.name)
        for f in PKG.rglob("*.py")
        for node in ast.parse(f.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    }


def referenced_names(source: str) -> set:
    """Identifiers ``source`` references as a Name, an Attribute or an
    import alias, minus each top-level def's references to itself."""
    out = set()
    for top in ast.parse(source).body:
        own = (top.name if isinstance(top, (ast.FunctionDef,
                                             ast.AsyncFunctionDef))
               else None)
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != own:
                out.add(name)
    return out


def test_referenced_names_skip_docstrings_and_self_calls():
    src = '''
def f(n):
    """calls g() and h"""
    return f(n - 1) + helper.g(n)

from m import h as k
'''
    assert referenced_names(src) == {"n", "helper", "g", "h"}


def test_every_public_def_has_a_caller_outside_tests():
    refs = set()
    for f in _sources():
        refs |= referenced_names(f.read_text())
    defs = _public_defs()
    unreferenced = {d for d in defs if d[1] not in refs}
    assert unreferenced - set(KEPT) == set(), (
        "public defs only tests reference; call them, make them private, "
        "delete them, or list them in KEPT with a reason")
    # a KEPT entry whose def is gone or has gained a caller is stale
    assert set(KEPT) - unreferenced == set()
