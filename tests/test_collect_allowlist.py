"""No unbounded driver collect: every call in the package and the driver
entry that brings rows to the driver (``.collect()``, ``.toPandas()``,
``.first()``, ``.take(``, ``.head(``, ``.tail(``, ``.toLocalIterator()``)
is listed here with the reason its size is bounded. A new site fails
until it is listed, and so does a second site in a listed function."""

import ast
from pathlib import Path

import pyradiomics_spark

ACTIONS = {"collect", "toPandas", "first", "take", "head", "tail",
           "toLocalIterator"}

#: (file, enclosing def): (number of sites, why each is bounded)
ALLOWED = {
    ("functions/bpe.py", "bpe_learn"):
        (1, "top_pairs(k=1): one argmax row per merge round"),
    ("functions/urls.py", "longest_prefix_match"):
        (1, "distinct prefix lengths of the rule table"),
    ("operators/clustering.py", "kmeans_step"):
        (1, "one mean per (cell, dimension): k × dim rows"),
    ("operators/components.py", "connected_components._sig"):
        (1, "one aggregate row per round"),
    ("operators/decomp.py", "pca_fit"):
        (1, "gram moments: dim × dim rows"),
    ("operators/features.py", "_arrow_stage.run_arrow"):
        (1, "Arrow: pyarrow Array.take inside the worker, not a Spark action"),
    ("operators/leakage.py", "audit_cut"):
        (1, "one aggregate row"),
    ("operators/sampling.py", "domain_mix_sample"):
        (1, "one count per target domain: In filter before the agg"),
    ("operators/sampling.py", "rank_normalize"):
        (2, "one aggregate row, then one count per quantile bucket"),
    ("operators/sketches.py", "hll_estimate"):
        (1, "at most 2**p registers"),
    ("operators/training.py", "logreg_grad_step"):
        (1, "one aggregate row"),
    ("plans/curation.py", "curate"):
        (2, "two aggregate rows (flag counts, packing totals)"),
    ("sources/sinks.py", "recompute_affected_partitions"):
        (1, "distinct partition values of the late rows"),
    ("__spark_entry__.py", "q_embedding_dedup"):
        (2, "one aggregate row, then the corpus only when it has at most "
            "_EMBEDDING_DEDUP_MAX_ROWS rows"),
    ("__spark_entry__.py", "q_bpe_merge"):
        (1, "top_pairs(k=1): one argmax row"),
}

PKG = Path(pyradiomics_spark.__file__).parent
ENTRY = PKG.parent / "__spark_entry__.py"


def action_sites(source: str) -> list:
    """[(enclosing def, method)] for every call of an ACTIONS method.
    ``F.first(...)`` and other calls on the functions module ``F`` are
    aggregate expressions, not actions, and are skipped."""
    sites = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                visit(child, f"{scope}.{child.name}" if scope else child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ACTIONS
                    and not (isinstance(child.func.value, ast.Name)
                             and child.func.value.id == "F")):
                sites.append((scope, child.func.attr))
            visit(child, scope)

    visit(ast.parse(source), "")
    return sites


def _counts() -> dict:
    counts: dict = {}
    files = sorted(PKG.rglob("*.py")) + [ENTRY]
    for path in files:
        rel = (path.name if path == ENTRY
               else path.relative_to(PKG).as_posix())
        for scope, _ in action_sites(path.read_text()):
            counts[(rel, scope)] = counts.get((rel, scope), 0) + 1
    return counts


def test_scanner_sees_every_action_form():
    src = (
        "def a(df):\n"
        "    df.collect(); df.toPandas(); df.first(); df.take(3)\n"
        "    df.head(2); df.tail(1); df.toLocalIterator()\n"
        "    return F.first('x')\n"
        "class K:\n"
        "    def m(self, df):\n"
        "        def inner():\n"
        "            return df.collect()\n"
        "        return inner\n"
    )
    assert action_sites(src) == [
        ("a", m) for m in ("collect", "toPandas", "first", "take", "head",
                           "tail", "toLocalIterator")] + [("K.m.inner", "collect")]


def test_every_driver_collect_is_allowlisted_and_bounded():
    counts = _counts()
    unlisted = {k: n for k, n in counts.items() if k not in ALLOWED}
    assert not unlisted, f"driver collects with no bound listed: {unlisted}"
    wrong = {k: (counts.get(k, 0), n) for k, (n, _) in ALLOWED.items()
             if counts.get(k, 0) != n}
    assert not wrong, f"(found, listed) site counts differ: {wrong}"
