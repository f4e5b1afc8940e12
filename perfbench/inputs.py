"""Seeded benchmark inputs, written to parquet before any timer starts.

Every corpus is built from ``sources.pages.page_rows`` (a pure function of
the url index); the seed only moves the url-index window and picks which
rows are edited, so one seed always yields byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyradiomics_spark.sources.pages import page_rows

#: input sizes, fixed so every seed feeds the same number of rows: pages
#: are rendered for URLS url indices (1-12 snapshots each, ~6.5 on
#: average, so always more than needed) and cut to the first ROWS
PIT_URLS, PIT_ROWS = 750, 4000
CURATE_URLS, CURATE_ROWS = 450, 2500

#: parquet row-group size: small enough that every Spark split of the
#: one input file holds rows (a single row group would leave all but one
#: split empty and serialize the scan-local stages onto one task)
ROW_GROUP_ROWS = 1000

#: share of pit_pipeline docs carrying typographic punctuation or NBSP,
#: as real crawl text does (each one sends its whole Arrow batch down the
#: decode fallback of functions.text.arrow_token_lens)
UNICODE_SHARE = 0.02
#: planted duplicates in the curate corpus, as shares of the base docs
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
#: near-dups are cut from base docs of at least this many words (so at
#: least 148 word 3-shingles) with at most NEAR_DUP_EDITS one-word edits;
#: each edit changes at most 3 shingles: Jaccard >= 139 / 157 > 0.88
NEAR_DUP_MIN_TOKENS = 150
NEAR_DUP_EDITS = 3

_NBSP = "\u00a0"
_UNICODE_EDITS = ("\u2019", "\u201c", "\u201d", "\u2013", "\u2014", _NBSP)  # ’ “ ” – —
_WINDOW = 1_000_000  # url-index stride between seeds; wider than any corpus


def _h(*key) -> int:
    return int(hashlib.md5(":".join(map(str, key)).encode()).hexdigest()[:16], 16)


def url_range(seed: int, workload: str, n_urls: int) -> range:
    """The url-index window for one workload and seed (disjoint across
    workloads and seeds)."""
    base = seed * 2 + ("pit_pipeline", "curate").index(workload)
    return range(base * _WINDOW, base * _WINDOW + n_urls)


def _pages(spark, urls: range, rows: int, columns) -> pd.DataFrame:
    """Render the pages of ``urls`` on the executors (page_rows is pure
    Python) and bring the first ``rows`` of the requested columns back, in
    (url index, snapshot) order."""
    rng = spark.range(urls.start, urls.stop, 1, 16)
    cols = list(columns)

    def gen(batches):
        for pdf in batches:
            out = page_rows(pdf["id"].to_numpy())
            out["url_idx"] = out["url"].str.rsplit("/p", n=1).str[1].astype("int64")
            yield out[["url_idx"] + cols]

    schema = "url_idx long, " + ", ".join(
        {"url": "url string", "warc_ts": "warc_ts timestamp",
         "html": "html binary", "text": "text string",
         "lang": "lang string"}[c] for c in cols)
    pdf = rng.mapInPandas(gen, schema=schema).toPandas()
    # collect order is partition order already; the stable sort pins it
    # (a url's snapshots come from one page_rows call, in snapshot order)
    pdf = pdf.sort_values("url_idx", kind="stable")
    if len(pdf) < rows:
        raise ValueError(f"{len(urls)} urls render {len(pdf)} pages, fewer than {rows}")
    return pdf.drop(columns="url_idx").head(rows).reset_index(drop=True)


def _unicode_edit(text: str, key: int) -> str:
    """Typographic punctuation the way web text carries it: an apostrophe
    or quote glued to a word, a dash token, or an NBSP between words."""
    words = text.split(" ")
    i = key % len(words)
    ch = _UNICODE_EDITS[(key >> 20) % len(_UNICODE_EDITS)]
    if ch == _NBSP and len(words) > 1:
        j = max(i, 1)
        words[j - 1:j + 1] = [words[j - 1] + ch + words[j]]
    elif ch in ("\u2013", "\u2014"):
        words.insert(i, ch)
    else:
        words[i] = words[i] + ch + "s" if ch == "\u2019" else ch + words[i]
    return " ".join(words)


def _write(pdf: pd.DataFrame, path: str) -> None:
    """One parquet file; timestamps as UTC-adjusted microseconds so Spark
    reads them back as the pages schema's ``timestamp``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if "warc_ts" in pdf:
        pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=ROW_GROUP_ROWS, coerce_timestamps="us")


def make_pit(spark, seed: int, path: str) -> dict:
    """The full pages schema; UNICODE_SHARE of the docs, picked by the
    seed, carry one typographic punctuation edit in their text (html
    stays as rendered: no pit_pipeline stage reads it)."""
    pdf = _pages(spark, url_range(seed, "pit_pipeline", PIT_URLS), PIT_ROWS,
                 ("url", "warc_ts", "html", "text", "lang"))
    keys = [_h(seed, "unicode", u, t.value) for u, t in zip(pdf["url"], pdf["warc_ts"])]
    pick = [k % 10_000 < UNICODE_SHARE * 10_000 for k in keys]
    pdf["text"] = [_unicode_edit(t, k) if p else t
                   for t, k, p in zip(pdf["text"], keys, pick)]
    _write(pdf, path)
    return {"rows": len(pdf), "unicode_docs": int(sum(pick)),
            "pages": pdf[["url", "warc_ts", "text"]]}


def make_curate(spark, seed: int, path: str) -> dict:
    """(doc_id, text): one doc per page, plus planted exact copies and
    near-duplicates (a few one-word edits) of seed-picked base docs."""
    base = _pages(spark, url_range(seed, "curate", CURATE_URLS), CURATE_ROWS,
                  ("text",))["text"]
    n = len(base)
    if base.duplicated().any():  # exact survivors must be n + near dups
        raise ValueError("the base corpus has duplicate texts")
    rng = np.random.default_rng(seed)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    exact_src = rng.choice(n, size=n_exact, replace=False)
    long_docs = np.flatnonzero(base.str.count(" ").to_numpy() + 1 >= NEAR_DUP_MIN_TOKENS)
    near_src = rng.choice(long_docs, size=n_near, replace=False)
    texts = list(base)
    texts += [base[i] for i in exact_src]
    for k, i in enumerate(near_src):
        words = base[i].split(" ")
        for e in range(1 + k % NEAR_DUP_EDITS):
            words[int(rng.integers(len(words)))] = f"edit{k}x{e}"
        texts.append(" ".join(words))
    # shuffled ids: a planted copy is not always the higher id of its pair,
    # so exact dedup's min-id survivor is sometimes the copy
    ids = rng.permutation(len(texts)).astype("int64")
    _write(pd.DataFrame({"doc_id": ids, "text": texts}), path)
    return {"rows": len(texts), "base_docs": n, "exact_dups": n_exact,
            "near_dups": n_near}
