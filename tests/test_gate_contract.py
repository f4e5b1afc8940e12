"""The gate's contract, pinned without a Spark session: the queries() key
order, the oracle SQL text of every row, and which rows have an oracle.
A refactor of how the rows or oracles are written must keep all three
byte-for-byte; a deliberate change to a row or an oracle updates the
hash here in the same change."""

import hashlib
import json

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
