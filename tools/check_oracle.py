"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, compare rows/columns/values order-insensitively.
Each query runs in one ``session.scope()``; a query that leaves anything
behind that it did not find (persistent RDDs, temp views, ``pyrs_*`` entries
in the system temp dir) prints ``LEAK <name>: ...`` and counts as a failure.
A query whose optimized plan holds ``n`` windows with no PARTITION BY (each
moves its whole input onto one task) prints ``SERIAL-WINDOW <name>: n`` on
stderr; that is informational, not a failure, and leaves stdout unchanged.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import glob
import math
import os
import sys
import tempfile

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            pass
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


STRICT = bool(int(os.environ.get("ORACLE_STRICT", "1")))


def values_equal(a, b) -> bool:
    """STRICT (default) mimics a value-hash: exact equality after the
    canonical 6-dp rounding — catches rounding-boundary divergence a
    tolerance-based compare would mask."""
    if a is b:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if STRICT:
            return repr(fa) == repr(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    # The driver's value-hash is dtype-sensitive (int64 1 vs float64 1.0
    # hash differently): require the same dtype KIND per column, pre-canon.
    for c in sc:
        ka = spark_pdf[c].dtype.kind
        kb = oracle_pdf[c].dtype.kind
        if ka != kb and not (len(spark_pdf) == 0 and len(oracle_pdf) == 0):
            problems.append(
                f"dtype col `{c}`: spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}")
    a, b = canon(spark_pdf), canon(oracle_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].tolist(), b[c].tolist()
            bad = [i for i, (x, y) in enumerate(zip(av, bv)) if not values_equal(x, y)]
            if bad:
                i = bad[0]
                problems.append(
                    f"col `{c}`: {len(bad)} mismatches, first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}")
    return problems


def serial_windows(df) -> int:
    """Window operators with an empty partition spec in ``df``'s optimized
    logical plan (windows behind a checkpoint are not seen)."""
    stack, n = [df._jdf.queryExecution().optimizedPlan()], 0
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            n += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from pyradiomics_spark.session import get_spark, scope

    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def state() -> tuple:
        return (set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
                {t.name for t in spark.catalog.listTables() if t.isTemporary},
                set(glob.glob(os.path.join(tempfile.gettempdir(), "pyrs_*"))))

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        before = state()
        error = None
        try:
            with scope():
                df = fn(spark, sf_dir)
                serial = serial_windows(df)
                if serial:
                    # on a line of its own: Spark's console progress bar
                    # leaves stderr mid-line (carriage returns, no newline)
                    print(f"\nSERIAL-WINDOW {name}: {serial}", file=sys.stderr)
                spark_pdf = df.toPandas()
        except Exception as ex:
            error = ex
        leaked = [f"{len(a - b)} {what}" for what, b, a in zip(
            ("persistent RDDs", "temp views", "pyrs_* temp entries"),
            before, state()) if a - b]
        if leaked:
            print(f"LEAK {name}: " + ", ".join(leaked))
            failures += 1
        if error is not None:
            print(f"FAIL {name}: spark error {type(error).__name__}: {error}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(spark_pdf)})")
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {ex}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name} ({len(spark_pdf)} rows)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
