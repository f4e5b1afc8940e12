"""edit_join (FastSS deletion-neighborhood Levenshtein self-join) vs a
brute-force python reference."""

import itertools
import random

import pytest

from pyradiomics_spark.operators.fuzzy import edit_join


def _lev(a: str, b: str) -> int:
    m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a) + 1):
        m[i][0] = i
    for j in range(len(b) + 1):
        m[0][j] = j
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                          m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
    return m[len(a)][len(b)]


def _brute(words):
    uw = sorted(set(w for w in words if w))
    return sorted((a, b, _lev(a, b))
                  for a, b in itertools.combinations(uw, 2)
                  if _lev(a, b) <= 1)


def test_edit_join_small(spark):
    words = ["cat", "cot", "coat", "dog", "dogs", "dig",
             "spark", "spork", "xyz", "cat", ""]
    df = spark.createDataFrame([(w,) for w in words], ["tok"])
    got = sorted((r.w1, r.w2, r.dist) for r in edit_join(df, "tok").collect())
    assert got == _brute(words)


def test_edit_join_fuzz_random_vocab(spark):
    rnd = random.Random(11)
    words = ["".join(rnd.choice("ab") for _ in range(rnd.randint(1, 5)))
             for _ in range(120)]
    df = spark.createDataFrame([(w,) for w in words], ["tok"])
    got = sorted((r.w1, r.w2, r.dist) for r in edit_join(df, "tok").collect())
    assert got == _brute(words)


def test_edit_join_covers_all_single_edit_kinds(spark):
    # substitution, deletion, insertion, and identity-after-distinct
    words = ["abcd", "abed", "abd", "xabcd", "abcd"]
    df = spark.createDataFrame([(w,) for w in words], ["tok"])
    got = {(r.w1, r.w2) for r in edit_join(df, "tok").collect()}
    assert ("abcd", "abed") in got      # substitution
    assert ("abcd", "abd") in got or ("abd", "abcd") in got   # deletion
    assert ("abcd", "xabcd") in got     # insertion
    assert all(a < b for a, b in got)   # canonical order, no self pairs


def test_edit_join_bucket_cap_drops_hot_variant(spark):
    # 50 words 'a0'..'a49' all share deletion variant 'a' (delete digit)?
    # no — construct an explicit hot bucket: words 'xN' (N digit) share
    # variant 'x' after deleting their digit.
    words = [f"x{i}" for i in range(10)] + ["hello", "hallo"]
    df = spark.createDataFrame([(w,) for w in words], ["tok"])
    assert ("x0", "x1") in {(r.w1, r.w2) for r in edit_join(df, "tok").collect()}
    capped = edit_join(df, "tok", bucket_cap=5)
    got = {(r.w1, r.w2) for r in capped.collect()}
    # the quadratic x-bucket is gone, the organic pair survives
    assert ("hallo", "hello") in got
    assert not any(a.startswith("x") and b.startswith("x") for a, b in got)


def _brute_d(words, d):
    uw = sorted(set(w for w in words if w))
    return sorted((a, b, _lev(a, b))
                  for a, b in itertools.combinations(uw, 2)
                  if _lev(a, b) <= d)


def test_edit_join_d2_small(spark):
    words = ["cat", "cart", "card", "ct", "c", "dog", "dg", "spark",
             "spork", "sprk", "spoon"]
    df = spark.createDataFrame([(w,) for w in words], ["tok"])
    got = sorted((r.w1, r.w2, r.dist)
                 for r in edit_join(df, "tok", max_dist=2).collect())
    assert got == _brute_d(words, 2)


def test_edit_join_d2_fuzz(spark):
    rnd = random.Random(23)
    words = ["".join(rnd.choice("abc") for _ in range(rnd.randint(1, 6)))
             for _ in range(100)]
    df = spark.createDataFrame([(w,) for w in words], ["tok"])
    got = sorted((r.w1, r.w2, r.dist)
                 for r in edit_join(df, "tok", max_dist=2).collect())
    assert got == _brute_d(words, 2)


def test_edit_join_rejects_d3(spark):
    df = spark.createDataFrame([("x",)], ["tok"])
    with pytest.raises(ValueError):
        edit_join(df, "tok", max_dist=3)
