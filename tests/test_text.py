import numpy as np
import pytest

from pyradiomics_spark.functions.text import (
    extract_text, tokenize, token_intensity, text_to_intensity)
from pyradiomics_spark.functions.intensity import (
    square_transform, squareroot_transform, logarithm_transform,
    exponential_transform, normalize, resegment_bounds)
from pyradiomics_spark.sources.pages import pages_pdf, page_rows


def test_extract_text_strips_and_decodes():
    html = (b"<html><head><style>p{}</style><script>var a='<x>';</script></head>"
            b"<body><!-- c --><p>Hello &amp; world &#233; &#x41;</p></body></html>")
    assert extract_text(html) == "Hello & world \xe9 A"


def test_entity_decode_single_pass():
    """Nested encodings decode exactly once (HTML semantics): '&amp;lt;'
    is the ESCAPED string '&lt;', not '<'."""
    assert extract_text(b"<p>&amp;lt;</p>") == "&lt;"
    assert extract_text(b"<p>&amp;amp;</p>") == "&amp;"
    assert extract_text(b"<p>&amp;#65;</p>") == "&#65;"
    assert extract_text(b"<p>a &amp; b &lt; c</p>") == "a & b < c"


def test_extract_text_deterministic_bytes():
    html = "<p>café &nbsp; straße</p>".encode("utf-8")
    t1 = extract_text(html)
    t2 = extract_text(html)
    assert t1.encode("utf-8") == t2.encode("utf-8")
    assert t1 == "café straße"


def test_tokenize_modes():
    assert tokenize("a bb ccc") == ["a", "bb", "ccc"]
    assert tokenize("ab12,cd", "bpe_regex") == ["ab", "12", ",", "cd"]


def test_token_intensity():
    np.testing.assert_array_equal(
        token_intensity(["a", "bb", "café"]), [1, 2, 5])
    h = token_intensity(["x", "y"], mode="hash_bucket", buckets=8)
    assert all(1 <= v <= 8 for v in h)


def test_pages_text_matches_extraction():
    pdf = pages_pdf(5)
    for _, r in pdf.iterrows():
        assert extract_text(r["html"]) == r["text"]


def test_pages_deterministic_and_skewed():
    a = page_rows(range(20))
    b = page_rows(range(20))
    assert a.equals(b)
    assert a["warc_ts"].is_monotonic_increasing is False  # irregular per url
    assert set(a["lang"]) <= {"en", "de", "fr", "nl", "zz"}


def test_square_transform_matches_reference_semantics():
    x = np.array([1.0, 4.0, 9.0])
    out = square_transform(x)
    np.testing.assert_allclose(out, (x / np.sqrt(9)) ** 2)
    assert out.max() == 9.0  # global max preserved


def test_sqrt_log_exp_preserve_max():
    x = np.array([1.0, 4.0, 16.0])
    np.testing.assert_allclose(squareroot_transform(x), np.sqrt(x * 16))
    lg = logarithm_transform(x)
    assert lg.max() == 16.0
    ex = exponential_transform(x)
    np.testing.assert_allclose(ex.max(), 16.0)


def test_normalize_and_clamp():
    x = np.array([0.0, 1.0, 2.0, 100.0])
    z = normalize(x, scale=1.0, remove_outliers=1.0)
    assert z.max() <= 1.0 and z.min() >= -1.0
    flat = normalize(np.ones(5))
    np.testing.assert_array_equal(flat, np.zeros(5))


def test_resegment_modes():
    v = np.array([0.0, 10.0])
    assert resegment_bounds(v, (2, 8), "absolute") == (2, 8)
    assert resegment_bounds(v, (0.1, 0.9), "relative") == (1.0, 9.0)
    lo, hi = resegment_bounds(v, (-1, 1), "sigma")
    np.testing.assert_allclose([lo, hi], [0.0, 10.0])


def test_batch_text_to_intensity_parity():
    """The byte-level batch decode must match the per-doc path exactly —
    including the cases bytes can't see (unicode whitespace \xa0/ ,
    CJK multibyte lengths), ascii control separators \x1c-\x1f, empty and
    None docs, and docs adjacent in the concat buffer."""
    from pyradiomics_spark.functions.text import (
        batch_text_to_intensity, text_to_intensity)

    texts = [
        "hello world", "", None, "  leading and   runs  ", "one",
        "tabs\tand\nnewlines\x0bx", "a\x1cb\x1dc\x1ed\x1fe",
        "nbsp\xa0separated", " line sep", "中文 文本 测试",
        "mixed ascii 和 中文", "emoji 🚀 boom", "x" * 300,
        "end-nonspace", "start right after prev",
        " ", "\t\t", "ünïcödé wörds",
    ]
    got = batch_text_to_intensity(texts)
    for t, g in zip(texts, got):
        want = text_to_intensity(t or "")
        assert g.dtype == want.dtype, t
        assert np.array_equal(g, want), (t, g, want)


def test_batch_text_to_intensity_other_modes_fall_back():
    from pyradiomics_spark.functions.text import (
        batch_text_to_intensity, text_to_intensity)

    texts = ["hello world", "abc123 def"]
    for kw in ({"mode": "hash_bucket"}, {"tokenizer": "bpe_regex"}):
        got = batch_text_to_intensity(texts, **kw)
        for t, g in zip(texts, got):
            assert np.array_equal(g, text_to_intensity(t, **{
                {"mode": "mode", "tokenizer": "tokenizer"}[k]: v
                for k, v in kw.items()}))


def test_batch_text_to_intensity_random_ascii_fuzz():
    rng = np.random.default_rng(0)
    from pyradiomics_spark.functions.text import (
        batch_text_to_intensity, text_to_intensity)

    alphabet = list("ab c\t\n\x1c\x1f  xyz0")
    texts = ["".join(rng.choice(alphabet, size=rng.integers(0, 40)))
             for _ in range(200)]
    got = batch_text_to_intensity(texts)
    for t, g in zip(texts, got):
        assert np.array_equal(g, text_to_intensity(t)), repr(t)


def test_batch_text_to_intensity_unicode_whitespace_exhaustive():
    """Every unicode whitespace char str.split() honors must route its doc
    to the slow path (or be handled identically); CJK/latin non-ascii
    WITHOUT unicode whitespace must take the fast byte path correctly."""
    from pyradiomics_spark.functions.text import (
        batch_text_to_intensity, text_to_intensity)

    uws = ["\x85", "\xa0", " ", " ", " ", " ",
           " ", " ", " ", " ", "　"]
    texts = [f"aa{w}bb cc" for w in uws]
    texts += ["中文文本 测试 ok", "naïve café résumé", "ß sharp ß",
              "dash–separated words", "quote “word” end"]
    got = batch_text_to_intensity(texts)
    for t, g in zip(texts, got):
        assert np.array_equal(g, text_to_intensity(t)), repr(t)


def test_arrow_intensity_decodes_only_suspect_docs_per_doc():
    """arrow_intensity tokenizes the Arrow buffers once and re-decodes
    only the unicode-whitespace suspects: equal to the per-doc path with
    suspects first, last and adjacent, nulls, and a sliced large_string
    array; arrow_token_lens still gives None for a batch with a suspect."""
    import pyarrow as pa

    from pyradiomics_spark.config import ExtractionSettings
    from pyradiomics_spark.functions.text import (
        arrow_intensity, arrow_token_lens, text_to_intensity)

    texts = ["nbsp\xa0first doc", "plain words here", None,
             "em\u2003space\u3000ideo", "\x85next line x", "",
             "dash\u2013kept as a token", "last\u2028sep"]
    st = ExtractionSettings()
    for arr in (pa.array(texts, type=pa.string()),
                pa.array(["skip me"] + texts, type=pa.large_string())[1:]):
        r = arrow_intensity(arr, st)
        assert r.B == len(texts)
        for i, t in enumerate(texts):
            got = r.x[r.starts[i]:r.starts[i] + r.lens[i]]
            assert np.array_equal(got, text_to_intensity(t or "")), repr(t)
        assert arrow_token_lens(arr) is None
    clean = pa.array(["a bb", None, "ccc"], type=pa.string())
    tok_len, counts = arrow_token_lens(clean)
    assert tok_len.tolist() == [1, 2, 3] and counts.tolist() == [2, 0, 1]


def test_mad_outliers_grouped(spark):
    from pyradiomics_spark.functions.textstats import mad_outliers

    rows = ([("en", float(v)) for v in (1, 2, 3, 4, 5, 100)]
            + [("de", float(v)) for v in (10, 20, 30, 40, 50)])
    df = spark.createDataFrame(rows, ["lang", "v"])
    out = mad_outliers(df, "v", "lang")
    en = {r.v: r.is_outlier for r in out.where("lang='en'").collect()}
    assert en[100.0] is True and not any(en[v] for v in (1.0, 5.0))
    # per-group stats are independent
    de = out.where("lang='de'").first()
    assert de.grp_median == 30.0 and de.grp_mad == 10.0


def test_mad_outliers_constant_group_and_global(spark):
    from pyradiomics_spark.functions.textstats import mad_outliers

    df = spark.createDataFrame(
        [("a", 7.0)] * 5 + [("a", 9.0)], ["g", "v"])
    out = {(r.v): r.is_outlier for r in mad_outliers(df, "v", "g").collect()}
    # MAD == 0: only the value off the median is flagged
    assert out[9.0] is True and out[7.0] is False
    # global (no group) arm
    g = mad_outliers(df, "v", None)
    assert g.where("is_outlier").count() == 1


def test_normalize_for_dedup_canonicalizes(spark):
    from pyradiomics_spark.functions.textstats import normalize_for_dedup

    rows = [
        (0, "Hello, World!  Visit:  https://x.y/z?a=1"),
        (1, "hello world visit https x y z a 1"),
        (2, "Item #42 costs $7.99 -- buy 42 now!"),
        (3, "Tabs\tand\nnewlines   collapse"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r.id: r.text_norm
           for r in normalize_for_dedup(df, "text").collect()}
    # cosmetic variants now hash identically
    assert out[0] == out[1] == "hello world visit https x y z a 1"
    assert out[3] == "tabs and newlines collapse"
    assert "$" not in out[2] and out[2].startswith("item 42")
    # digit folding arm: counters/ids stop distinguishing near-dups
    outd = {r.id: r.text_norm
            for r in normalize_for_dedup(df, "text",
                                         strip_digits=True).collect()}
    assert outd[2] == "item 0 costs 0 0 buy 0 now"


def test_corpus_profile_metrics(spark):
    import math

    from pyradiomics_spark.functions.textstats import corpus_profile

    rows = [(0, "a b c", "en"), (1, "d e", "en"),
            (2, "", "de"), (3, "  ", "de"), (4, "x", "fr")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r.metric: r.value for r in corpus_profile(df).collect()}
    assert got["n_docs"] == 5.0
    assert got["n_tokens"] == 6.0  # 3 + 2 + 0 + 0 + 1
    assert got["n_empty"] == 2.0   # '' and whitespace-only
    assert got["n_langs"] == 3.0
    # mix = (2,2,1)/5 → H = 2·(2/5)·log2(5/2) + (1/5)·log2(5)
    h = 2 * (2 / 5) * math.log2(5 / 2) + (1 / 5) * math.log2(5)
    assert got["lang_entropy"] == pytest.approx(h, rel=1e-12)
    # lang_col=None drops the language block
    nolang = {r.metric for r in corpus_profile(df, lang_col=None).collect()}
    assert "lang_entropy" not in nolang and "n_docs" in nolang


def test_tag_keywords_token_exact_counts(spark):
    from pyradiomics_spark.functions.textstats import tag_keywords

    rows = [
        (0, "The cat sat near another CAT and a category of dogs"),
        (1, "pure python code compiles spark code fast"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.kw_animals, r.kw_tech)
           for r in tag_keywords(df, {
               "animals": ["cat", "dogs"],
               "tech": ["code", "spark"],
           }).collect()}
    # token-exact: 'category' does NOT match 'cat'; case-folded
    assert out[0] == (3, 0)
    assert out[1] == (0, 3)  # code ×2 + spark
    assert out[2] == (0, 0)
    with pytest.raises(ValueError, match="non-empty"):
        tag_keywords(df, {})
    with pytest.raises(ValueError, match="empty keyword list"):
        tag_keywords(df, {"x": []})


def test_winsorize_clamps_at_quantiles(spark):
    import numpy as np

    from pyradiomics_spark.functions.textstats import winsorize

    vals = list(range(1, 101))  # 1..100
    df = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    out = winsorize(df, "v", 0.05, 0.95).collect()
    lo = np.percentile(vals, 5)
    hi = np.percentile(vals, 95)
    got = sorted(r.v_wins for r in out)
    assert got[0] == pytest.approx(lo) and got[-1] == pytest.approx(hi)
    # interior values untouched
    assert any(r.v == r.v_wins for r in out)
    with pytest.raises(ValueError, match="lower < upper"):
        winsorize(df, "v", 0.9, 0.1)


def test_group_standardize(spark):
    import numpy as np

    from pyradiomics_spark.functions.textstats import group_standardize

    rows = ([("a", float(v)) for v in (1, 2, 3, 4)]
            + [("b", 7.0), ("b", 7.0)])  # constant group
    df = spark.createDataFrame(rows, ["g", "v"])
    out = group_standardize(df, "v", "g")
    a = sorted(r.v_z for r in out.where("g='a'").collect())
    exp = sorted((np.array([1, 2, 3, 4]) - 2.5) / np.std([1, 2, 3, 4],
                                                         ddof=1))
    np.testing.assert_allclose(a, exp, rtol=1e-12)
    # zero-variance group → defined 0.0, not NaN
    assert all(r.v_z == 0.0 for r in out.where("g='b'").collect())
    # global arm: mean 0, sd 1
    g = group_standardize(df, "v", None)
    zs = np.array([r.v_z for r in g.collect()])
    assert abs(zs.mean()) < 1e-12 and abs(zs.std(ddof=1) - 1) < 1e-12


def test_feature_corr_matches_numpy(spark):
    import numpy as np

    from pyradiomics_spark.functions.textstats import feature_corr

    rng = np.random.default_rng(2)
    x = rng.normal(size=200)
    y = 2 * x + rng.normal(scale=0.1, size=200)
    z = rng.normal(size=200)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        ["x", "y", "z"])
    got = {(r.col_a, r.col_b): r.corr
           for r in feature_corr(df, ["x", "y", "z"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert got[("x", "y")] == pytest.approx(np.corrcoef(x, y)[0, 1],
                                            rel=1e-9)
    assert abs(got[("x", "z")]) < 0.2
    with pytest.raises(ValueError, match="at least 2"):
        feature_corr(df, ["x"])


def test_snapshot_drift_jsd_and_movers(spark):
    import math

    from pyradiomics_spark.functions.textstats import snapshot_drift

    a = spark.createDataFrame(
        [(0, "x x y"), (1, "x z")], ["doc_id", "text"])
    b = spark.createDataFrame(
        [(0, "x y y"), (1, "y w")], ["doc_id", "text"])
    rows = snapshot_drift(a, b, top_movers=4).collect()
    got = {r.term: r for r in rows}
    # hand-computed: P = x:3/5, y:1/5, z:1/5; Q = x:1/5, y:3/5, w:1/5
    P = {"x": 3 / 5, "y": 1 / 5, "z": 1 / 5}
    Q = {"x": 1 / 5, "y": 3 / 5, "w": 1 / 5}
    jsd = 0.0
    for t in set(P) | set(Q):
        p, q = P.get(t, 0.0), Q.get(t, 0.0)
        m = (p + q) / 2
        if p:
            jsd += 0.5 * p * math.log2(p / m)
        if q:
            jsd += 0.5 * q * math.log2(q / m)
    assert got["__jsd__"].delta == pytest.approx(jsd, rel=1e-12)
    assert 0.0 < got["__jsd__"].delta < 1.0
    # movers carry signed deltas; x fell, y rose
    assert got["x"].delta == pytest.approx(-2 / 5)
    assert got["y"].delta == pytest.approx(2 / 5)
    # identical snapshots → JSD 0
    same = snapshot_drift(a, a).collect()
    assert {r.term: r for r in same}["__jsd__"].delta == pytest.approx(0.0)


def test_bigram_logloss_matches_reference(spark):
    import math
    from collections import Counter

    from pyradiomics_spark.functions.textstats import bigram_logloss

    docs = [(0, "a b a b c"), (1, "a  a"), (2, "x"), (3, "")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r.bigram_logloss
           for r in bigram_logloss(df, "doc_id").collect()}

    toks = {i: [t for t in s.lower().split(" ") if t] for i, s in docs}
    uni = Counter(t for v in toks.values() for t in v)
    big = Counter((v[i], v[i + 1])
                  for v in toks.values() for i in range(len(v) - 1))
    vocab = len(uni)
    for i, ts in toks.items():
        ps = [-math.log2((big[(ts[j], ts[j + 1])] + 1)
                         / (uni[ts[j]] + vocab))
              for j in range(len(ts) - 1)]
        if not ps:
            assert got[i] is None  # <2 tokens: no transitions to score
        else:
            assert got[i] == pytest.approx(sum(ps) / len(ps), rel=1e-12)


def test_pmi_pairs_hand_computed(spark):
    import math

    from pyradiomics_spark.functions.textstats import pmi_pairs

    # corpus: "new york" always adjacent; "the the" frequent but
    # independent-ish
    rows = [("new york is big",), ("new york is old",),
            ("the the the x",), ("the y new york",)]
    df = spark.createDataFrame(rows, ["text"])
    out = pmi_pairs(df, min_count=2, top_k=3).collect()
    got = {(r.w1, r.w2): (r.n, r.pmi) for r in out}
    assert ("new", "york") in got
    # exact: c(new york)=3, c(new)=3, c(york)=3, T=12 bigrams
    want = math.log2(3 * 12 / (3 * 3))
    assert got[("new", "york")][0] == 3
    assert got[("new", "york")][1] == pytest.approx(want, rel=1e-12)
    # min_count filters hapax pairs out entirely
    assert all(n >= 2 for n, _ in got.values())
    assert len(out) == 3


def _py_bm25_search(docs, terms, k1=1.2, b=0.75, top_n=10):
    import math

    toks = {i: [t for t in txt.lower().split(" ") if t]
            for i, txt in docs}
    dl = {i: len(ts) for i, ts in toks.items()}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    dfreq = {}
    for t in terms:
        dfreq[t] = sum(1 for ts in toks.values() if t in ts)
    scores = {}
    hits = {}
    for i, ts in toks.items():
        s, h = 0.0, 0
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            h += 1
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl[i] / avgdl))
        if h:
            scores[i], hits[i] = s, h
    ranked = sorted(scores, key=lambda i: (-scores[i], i))[:top_n]
    return [(i, scores[i], hits[i], r + 1) for r, i in enumerate(ranked)]


def test_bm25_search_matches_python(spark):
    import pytest

    from pyradiomics_spark.functions.textstats import bm25_search

    docs = [(1, "spark shuffles data across the cluster"),
            (2, "the spark catalyst optimizer prunes columns"),
            (3, "ducks swim in data lakes and data ponds"),
            (4, "spark spark spark tiny doc"),
            (5, "completely unrelated text here")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [(r.doc_id, r.score, r.n_hits, r.rank)
           for r in bm25_search(df, "doc_id", ["spark", "data"],
                                top_n=3).orderBy("rank").collect()]
    want = _py_bm25_search(docs, ["spark", "data"], top_n=3)
    assert [(g[0], g[2], g[3]) for g in got] == [
        (w[0], w[2], w[3]) for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], rel=1e-12)
    # saturation: the spam doc (4) must not outrank on raw repetition
    # alone over the two-term match (1)
    assert got[0][0] == 1


def test_bm25_search_rejects_bad_query(spark):
    import pytest

    from pyradiomics_spark.functions.textstats import bm25_search

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        bm25_search(df, "doc_id", [])
    with pytest.raises(ValueError):
        bm25_search(df, "doc_id", ["a", "a"])


def test_bm25_search_rejects_case_folded_duplicates(spark):
    import pytest

    from pyradiomics_spark.functions.textstats import bm25_search

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="case-folded"):
        bm25_search(df, "doc_id", ["Spark", "spark"])


def _py_skipgrams(texts, window, min_count=1):
    from collections import Counter

    c = Counter()
    for txt in texts:
        toks = [t for t in txt.lower().split(" ") if t]
        for d in range(1, window + 1):
            for i in range(len(toks) - d):
                c[(toks[i], toks[i + d], d)] += 1
    return {k: v for k, v in c.items() if v >= min_count}


def test_skipgram_pairs_matches_python(spark):
    from pyradiomics_spark.functions.textstats import skipgram_pairs

    texts = ["the cat sat on the mat",
             "the cat  ran", "a", ""]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {(r.w1, r.w2, r.d): r.n
           for r in skipgram_pairs(df, window=3).collect()}
    assert got == _py_skipgrams(texts, 3)
    # adjacent slice equals the bigram census
    got1 = {(r.w1, r.w2, r.d): r.n
            for r in skipgram_pairs(df, window=1).collect()}
    assert got1 == _py_skipgrams(texts, 1)


def test_skipgram_min_count_and_window_guard(spark):
    import pytest

    from pyradiomics_spark.functions.textstats import skipgram_pairs

    df = spark.createDataFrame([("x y x y x",)], ["text"])
    got = {(r.w1, r.w2, r.d): r.n
           for r in skipgram_pairs(df, window=2,
                                   min_count=2).collect()}
    assert got == {("x", "y", 1): 2, ("y", "x", 1): 2,
                   ("x", "x", 2): 2}
    with pytest.raises(ValueError):
        skipgram_pairs(df, window=0)
