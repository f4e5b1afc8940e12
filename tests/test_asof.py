"""As-of join semantics: hand-built timelines with ties, no-match-before-first
rows, and the zero-leakage property (FIXTURES.md ts_asof / ts_leak cases)."""

import pandas as pd
import pytest

from pyradiomics_spark.operators.asof import asof_join


def _ts(s):
    return pd.Timestamp(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = pd.DataFrame({
        "ent": ["a", "a", "a", "b", "b", "c"],
        "ts": [_ts("2024-01-01 10:00"), _ts("2024-01-01 12:00"),
               _ts("2024-01-02 00:00"), _ts("2024-01-01 09:00"),
               _ts("2024-01-01 11:00"), _ts("2024-01-05 00:00")],
        "lval": [1, 2, 3, 4, 5, 6],
    })
    right = pd.DataFrame({
        "ent": ["a", "a", "b", "d"],
        "rts": [_ts("2024-01-01 10:00"),  # exact tie with left a@10:00
                _ts("2024-01-01 13:00"),
                _ts("2024-01-01 10:00"),
                _ts("2024-01-01 00:00")],
        "rval": [10.0, 20.0, 30.0, 99.0],
    })
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    return left, right, ldf, rdf


EXPECT = {
    # (ent, lval) -> rval with allow_exact_matches=True
    ("a", 1): 10.0,   # exact tie matches
    ("a", 2): 10.0,
    ("a", 3): 20.0,
    ("b", 4): None,   # before first right row → no match
    ("b", 5): 30.0,
    ("c", 6): None,   # entity absent on right
}


def test_asof_backward_with_ties(frames):
    left, right, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts").toPandas()
    assert len(out) == len(left)  # left join: all rows preserved
    got = {(r["ent"], r["lval"]): (None if pd.isna(r["rval"]) else r["rval"])
           for _, r in out.iterrows()}
    assert got == EXPECT


def test_asof_no_exact_matches(frames):
    left, right, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    allow_exact_matches=False).toPandas()
    got = {(r["ent"], r["lval"]): (None if pd.isna(r["rval"]) else r["rval"])
           for _, r in out.iterrows()}
    # exact tie at a@10:00 now excluded → no match for lval=1
    assert got[("a", 1)] is None
    assert got[("a", 2)] == 10.0  # strictly-before still matches


def test_asof_matches_pandas_merge_asof(spark, rng):
    n_l, n_r = 300, 120
    left = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], n_l),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
        "lval": rng.normal(size=n_l),
    })
    right = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], n_r),
        "rts": pd.to_datetime(rng.integers(0, 10**6, n_r), unit="s"),
        "rval": rng.normal(size=n_r),
    })
    expected = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rts"),
        left_on="ts", right_on="rts", by="ent", direction="backward")
    out = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="ent", left_ts="ts", right_ts="rts",
    ).toPandas()
    key = ["ent", "ts", "lval"]
    a = expected.sort_values(key).reset_index(drop=True)
    b = out.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(
        a["rval"].reset_index(drop=True), b["rval"].reset_index(drop=True),
        check_names=False)


def test_asof_zero_leakage(frames, spark):
    """Perturb FUTURE right rows → outputs at earlier cuts unchanged."""
    left, right, ldf, rdf = frames
    base = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts").toPandas()
    fut = right.copy()
    # add a future right row per entity (after all left ts)
    extra = pd.DataFrame({
        "ent": ["a", "b", "c"],
        "rts": [_ts("2030-01-01")] * 3,
        "rval": [-1.0, -2.0, -3.0],
    })
    rdf2 = spark.createDataFrame(pd.concat([fut, extra], ignore_index=True))
    pert = asof_join(ldf, rdf2, on="ent", left_ts="ts", right_ts="rts").toPandas()
    key = ["ent", "lval"]
    a = base.sort_values(key).reset_index(drop=True)
    b = pert.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_asof_plan_single_shuffle(frames):
    _, _, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    deterministic_ties=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # union + one window partitioning: exactly one Exchange when the caller
    # declares the right side tie-free
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" not in plan  # fully JVM-side

    out2 = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts")
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    # default: + one map-side-combined exchange for the tie dedupe
    assert plan2.count("Exchange hashpartitioning") == 2
    assert "ArrowEvalPython" not in plan2


def test_asof_tie_determinism(spark):
    """Right rows sharing an exact (key, ts) resolve to the MAX payload
    tuple, whatever the arrival order."""
    import numpy as np
    left = pd.DataFrame({"ent": ["a"], "ts": [_ts("2020-01-02")], "lval": [1.0]})
    right = pd.DataFrame({
        "ent": ["a", "a", "a"],
        "rts": [_ts("2020-01-01")] * 3,
        "rval": [5.0, 9.0, 7.0],
        "raux": ["x", "y", "z"],
    })
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right).repartition(3)  # scramble order
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts").toPandas()
    assert len(out) == 1
    assert out.rval.iloc[0] == 9.0 and out.raux.iloc[0] == "y"


def test_asof_tolerance(frames, spark):
    left, right, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    tolerance_seconds=3600).toPandas()
    got = {(r["ent"], r["lval"]): (None if pd.isna(r["rval"]) else r["rval"])
           for _, r in out.iterrows()}
    # a@12:00 matched a@10:00 (2h ago) — outside the 1h tolerance → null
    assert got[("a", 2)] is None
    # a@10:00 exact tie (0s) within tolerance
    assert got[("a", 1)] == 10.0
    # b@11:00 matched b@10:00 (1h exactly) → within
    assert got[("b", 5)] == 30.0


def test_asof_window_forward_matches_merge_and_pandas(spark, rng):
    """direction='forward' == pandas merge_asof forward, on random data."""
    n_l, n_r = 300, 120
    left = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], n_l),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
        "lval": rng.normal(size=n_l)})
    right = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], n_r),
        "rts": pd.to_datetime(rng.integers(0, 10**6, n_r), unit="s"),
        "rval": rng.normal(size=n_r)})
    expected = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rts"),
        left_on="ts", right_on="rts", by="ent", direction="forward")
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    direction="forward").toPandas()
    key = ["ent", "ts", "lval"]
    a = expected.sort_values(key).reset_index(drop=True)
    b = out.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(
        a["rval"].reset_index(drop=True),
        b["rval"].reset_index(drop=True), check_names=False)


def test_asof_window_forward_no_exact(frames):
    _, _, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    direction="forward", allow_exact_matches=False).toPandas()
    got = {(r["ent"], r["lval"]): (None if pd.isna(r["rval"]) else r["rval"])
           for _, r in out.iterrows()}
    assert got[("a", 1)] == 20.0   # exact tie at 10:00 excluded → 13:00 row


def test_asof_nonorderable_payload_warns(spark):
    """Map-typed payload columns can't be tie-deduped (non-orderable) —
    the join must WARN rather than silently switch tie regimes."""
    import warnings

    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 10)], "k string, ts long")
    right = spark.createDataFrame(
        [("a", 5, "x")], "k string, ts long, v string"
    ).withColumn("m", F.create_map(F.lit("p"), F.col("v")))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
        rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] == "x"
    assert any("deterministic_ties skipped" in str(w.message) for w in rec)
    # orderable payload: no warning
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        asof_join(left, right.drop("m"), on="k",
                  left_ts="ts", right_ts="ts").collect()
    assert not any("deterministic_ties" in str(w.message) for w in rec2)


def test_asof_nearest_matches_pandas(spark, rng):
    """direction='nearest' == pandas merge_asof nearest, on random data
    (pins the tie → backward rule)."""
    n_l, n_r = 300, 120
    left = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], n_l),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
        "lval": rng.normal(size=n_l)})
    right = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], n_r),
        "rts": pd.to_datetime(rng.integers(0, 10**6, n_r), unit="s"),
        "rval": rng.normal(size=n_r)})
    expected = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rts"),
        left_on="ts", right_on="rts", by="ent", direction="nearest")
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    direction="nearest").toPandas()
    key = ["ent", "ts", "lval"]
    a = expected.sort_values(key).reset_index(drop=True)
    b = out.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(
        a["rval"].reset_index(drop=True),
        b["rval"].reset_index(drop=True), check_names=False)


def test_asof_nearest_hand_cases(frames):
    _, _, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    direction="nearest").toPandas()
    got = {(r.ent, r.lval): (None if pd.isna(r.rval) else r.rval)
           for r in out.itertuples()}
    assert got[("a", 1)] == 10.0   # exact match always nearest
    assert got[("a", 2)] == 20.0   # 12:00 → 13:00 (1h) beats 10:00 (2h)
    assert got[("a", 3)] == 20.0   # future join is allowed for nearest
    assert got[("b", 4)] == 30.0   # before-first now matches FORWARD row
    assert got[("b", 5)] == 30.0
    assert got[("c", 6)] is None   # entity absent on right stays null


def test_asof_nearest_equidistant_prefers_backward(spark):
    left = pd.DataFrame({"ent": ["a"], "ts": [_ts("2024-01-01 12:00")],
                         "lval": [1]})
    right = pd.DataFrame({
        "ent": ["a", "a"],
        "rts": [_ts("2024-01-01 11:00"), _ts("2024-01-01 13:00")],
        "rval": [10.0, 20.0]})
    out = asof_join(spark.createDataFrame(left), spark.createDataFrame(right),
                    on="ent", left_ts="ts", right_ts="rts",
                    direction="nearest").toPandas()
    assert out.rval.iloc[0] == 10.0  # tie → backward (pandas semantics)
    # pandas agrees
    exp = pd.merge_asof(left, right, left_on="ts", right_on="rts",
                        by="ent", direction="nearest")
    assert exp.rval.iloc[0] == 10.0


def test_asof_nearest_tolerance_and_no_exact_guard(frames, spark):
    import pytest as _pytest
    _, _, ldf, rdf = frames
    out = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    direction="nearest", tolerance_seconds=3600.0).toPandas()
    got = {(r.ent, r.lval): (None if pd.isna(r.rval) else r.rval)
           for r in out.itertuples()}
    assert got[("a", 2)] == 20.0   # 1h gap, inside tolerance
    assert got[("b", 4)] == 30.0   # 09:00→10:00 = exactly 1h, inclusive
    assert got[("a", 3)] is None   # 00:00→13:00 prior day: out of tolerance
    with _pytest.raises(ValueError, match="allow_exact_matches"):
        asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                  direction="nearest", allow_exact_matches=False)


@pytest.mark.parametrize("direction,tolerance", [
    ("backward", None), ("forward", None), ("nearest", None),
    ("backward", 2 * 86400.0)])
def test_asof_matched_null_payload_stays_null(spark, direction, tolerance):
    """A NULL payload value of the MATCHED right row comes through as NULL —
    never filled from another right row while ``rts`` points at the match
    (pandas.merge_asof semantics)."""
    left = pd.DataFrame({
        "ent": ["a", "a", "a"],
        "ts": [_ts("2024-01-02 12:00"), _ts("2024-01-03 12:00"),
               _ts("2024-01-06 00:00")],
        "lval": [1, 2, 3]})
    right = pd.DataFrame({
        "ent": ["a"] * 4,
        "rts": [_ts("2024-01-01"), _ts("2024-01-02"), _ts("2024-01-04"),
                _ts("2024-01-05")],
        "v": [5.0, None, None, 7.0],
        "w": [1.0, 2.0, 3.0, 4.0]})
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    kw = {} if tolerance is None else {"tolerance": pd.Timedelta(seconds=tolerance)}
    expected = pd.merge_asof(left, right, left_on="ts", right_on="rts",
                             by="ent", direction=direction, **kw)
    cols = ["lval", "rts", "v", "w"]
    want = expected[cols].sort_values("lval").reset_index(drop=True)
    assert want["v"].isna().sum() >= 2   # the case is really exercised
    extra = {} if tolerance is None else {"tolerance_seconds": tolerance}
    got = asof_join(ldf, rdf, on="ent", left_ts="ts", right_ts="rts",
                    direction=direction, **extra).toPandas()
    got = got[cols].sort_values("lval").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_plan_width_independent(spark, direction):
    """A 120-column right payload still yields ONE window expression (two
    for nearest) and the single-shuffle plan."""
    from pyspark.sql import functions as F

    right = spark.range(4).select(
        F.lit("a").alias("ent"),
        F.timestamp_seconds(F.col("id") * 10).alias("rts"),
        *[(F.col("id") + i).alias(f"p{i}") for i in range(120)])
    left = spark.range(3).select(
        F.lit("a").alias("ent"),
        F.timestamp_seconds(F.col("id") * 10 + 5).alias("ts"))
    out = asof_join(left, right, on="ent", left_ts="ts", right_ts="rts",
                    deterministic_ties=False, direction=direction)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("windowspecdefinition") == (
        2 if direction == "nearest" else 1)
    assert plan.count("Exchange hashpartitioning") == 1
    assert out.columns == ["ent", "ts"] + [f"p{i}" for i in range(120)] + ["rts"]
    # ts=15 sits 5 s after rts=10 (id 1) and 5 s before rts=20 (id 2);
    # the nearest tie goes backward
    row = out.where(F.col("ts") == F.timestamp_seconds(F.lit(15))).first()
    want = {"backward": 1, "forward": 2, "nearest": 1}[direction]
    assert row["p0"] == want and row["p119"] == want + 119
