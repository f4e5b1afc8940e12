"""The gate's contract, pinned without a Spark session: the queries() key
order, the oracle SQL text of every row, which rows have an oracle, and
which rows run no package code. A refactor of how the rows or oracles are
written must keep the first three byte-for-byte; a deliberate change to a
row or an oracle updates the hash here in the same change."""

import ast
import hashlib
import json
from pathlib import Path

import __spark_entry__ as e

ORACLE_SHA256 = "c9d7ad72a22c837a98839b78936c12e0b89de618c2a9e2090e8a2c6162cd2557"
QUERIES_SHA256 = "9f0a8aa90a6f221825cb4043359aadec84531ec4aaa0dcacbd4db18f7183d28d"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_oracle_sql_text_is_unchanged():
    assert _sha256(json.dumps(e.oracle_sql(), sort_keys=True)) == ORACLE_SHA256


def test_queries_key_order_is_unchanged():
    assert _sha256("\n".join(e.queries())) == QUERIES_SHA256


def test_every_row_but_bpe_learn_has_an_oracle():
    queries, oracles = set(e.queries()), set(e.oracle_sql())
    assert queries - oracles == {"bpe_learn"}
    assert oracles <= queries


_SQL = "SQL primitive: no package operator implements it"
_HIST = "corpus histogram that no operator emits"
_CAPPED = ("absolute capped levels least(floor(len/2)+1, 8), not the "
           "engine's discretization")

#: gate rows that reach no ``pyradiomics_spark`` import → why they stay
#: relational
RELATIONAL = {
    **{f"tpch_q{q}": "TPC-H query" for q in (1, 3, 5, 6, 7, 10, 14, 18)},
    **{name: _SQL for name in (
        "top_customers", "anti_join", "cube_events", "rollup_events",
        "grouping_sets", "union_sources", "json_props", "length_quantiles")},
    **{name: _HIST for name in (
        "fo_binned_hist", "entropy_by_lang", "hash_bucket", "lbp_codes")},
    "glcm_pairs": _CAPPED,
    "glrlm_runs": _CAPPED,
    "normalize_clamp": "population sigma; the engine z-scores with N-1",
    "text_quality": "its own 8-word stoplist",
    "embedding_dedup": "bit-exact two-arm scorer of its own",
}


def _relational_rows() -> set:
    """Rows of queries() whose function, or an entry-local function it
    reaches by name, imports nothing from the package."""
    tree = ast.parse(Path(e.__file__).read_text())
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    ret = next(n for n in ast.walk(defs["queries"]) if isinstance(n, ast.Return))
    rows = {k.value: v.id for k, v in zip(ret.value.keys, ret.value.values)}

    def imports_package(node) -> bool:
        mods = [a.name for n in ast.walk(node) if isinstance(n, ast.Import)
                for a in n.names]
        mods += [n.module or "" for n in ast.walk(node)
                 if isinstance(n, ast.ImportFrom)]
        return any(m.split(".")[0] == "pyradiomics_spark" for m in mods)

    def reached(name: str) -> set:
        todo, seen = [name], set()
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo += [x.id for x in ast.walk(defs[n])
                         if isinstance(x, ast.Name) and x.id in defs]
        return seen

    return {row for row, fn in rows.items()
            if not any(imports_package(defs[d]) for d in reached(fn))}


def test_relational_rows_are_listed_with_a_reason():
    relational = _relational_rows()
    assert relational - set(RELATIONAL) == set(), "row runs no package code"
    assert set(RELATIONAL) - relational == set(), "stale RELATIONAL entry"
