"""Deterministic HTML→text extraction + tokenization + intensity derivation.

The extraction is the analog of the reference's image loader
(/root/reference/radiomics/featureextractor.py:431-442): it turns the raw
stored representation (html binary) into the dense numeric array the kernels
consume. The north-rule invariant is **byte-identical extracted text per
url** across executors and runs — hence pure-regex, locale-free, library-free
extraction with documented normalization rules:

1. drop <script>/<style>/<noscript> blocks and HTML comments;
2. replace all remaining tags with a single space;
3. decode the named entities &amp; &lt; &gt; &quot; &#39; &nbsp; and
   numeric entities &#NNN; / &#xHH;
4. collapse all whitespace runs to one space; strip ends.

Tokenization: ``whitespace`` (split on the normalized single spaces) or
``bpe_regex`` (GPT-2-style coarse pre-tokenizer: words / numbers /
punctuation runs). Intensity: UTF-8 byte length of the token (default) or a
stable hash bucket (md5-based so any engine can reproduce it).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from pyradiomics_spark.kernels.batch import Ragged

_SCRIPT_RE = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_NAMED_ENTITIES = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"',
    "&apos;": "'", "&nbsp;": " ",
}
# ONE pattern for named + numeric entities so decoding is a single
# left-to-right pass: '&amp;lt;' decodes to the literal '&lt;' (HTML
# semantics), never double-decodes to '<' the way sequential str.replace
# passes would.
_ENT_RE = re.compile(r"&(?:amp|lt|gt|quot|apos|nbsp|#(?:x[0-9a-fA-F]+|[0-9]+));")
_BPE_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+")


def _decode_entities(s: str) -> str:
    def _one(m: re.Match) -> str:
        tok = m.group(0)
        named = _NAMED_ENTITIES.get(tok)
        if named is not None:
            return named
        body = tok[2:-1]  # strip '&#' and ';'
        try:
            cp = int(body[1:], 16) if body[0] in "xX" else int(body)
            if 0 < cp < 0x110000:
                return chr(cp)
        except ValueError:
            pass
        return tok

    return _ENT_RE.sub(_one, s)


def extract_text(html: bytes | str) -> str:
    """Deterministic HTML→text (single value). Byte-identical per input."""
    if isinstance(html, (bytes, bytearray)):
        s = bytes(html).decode("utf-8", errors="replace")
    else:
        s = html or ""
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _decode_entities(s)
    return _WS_RE.sub(" ", s).strip()


def extract_text_series(html: pd.Series) -> pd.Series:
    """Arrow-batched Series→Series extraction (pandas UDF body)."""
    return html.map(extract_text)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Add the extracted-text column via an Arrow-vectorized pandas UDF —
    the engine's image-loader stage (featureextractor.py:431-442 analog).
    Deterministic and executor-independent ⇒ byte-identical per url
    (north-rule invariant; pinned by tests/test_text_invariant.py)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        return extract_text_series(html)

    return df.withColumn(out_col, _extract(html_col))


def tokenize(text: str, tokenizer: str = "whitespace") -> list:
    if not text:
        return []
    if tokenizer == "whitespace":
        return text.split()
    if tokenizer == "bpe_regex":
        return _BPE_RE.findall(text)
    raise ValueError(f"unknown tokenizer {tokenizer}")


def token_intensity(
    tokens: list,
    mode: str = "token_len",
    buckets: int = 64,
) -> np.ndarray:
    """1-D integer intensity sequence — the 'gray-level image' of a document.

    token_len: UTF-8 byte length (deterministic, engine-agnostic).
    hash_bucket: first 8 hex chars of md5 mod buckets, +1 (1-based), md5 so
    DuckDB/any SQL engine can reproduce it for oracle checks.
    """
    if mode == "token_len":
        # isascii fast path: byte length == char length, no encode alloc
        return np.array(
            [len(t) if t.isascii() else len(t.encode("utf-8")) for t in tokens],
            dtype=np.int64)
    if mode == "hash_bucket":
        return np.array(
            [int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) % buckets + 1
             for t in tokens],
            dtype=np.int64,
        )
    raise ValueError(f"unknown intensity mode {mode}")


def text_to_intensity(
    text: str,
    tokenizer: str = "whitespace",
    mode: str = "token_len",
    buckets: int = 64,
) -> np.ndarray:
    return token_intensity(tokenize(text, tokenizer), mode, buckets)


# ascii whitespace exactly as str.split() sees it: chr(i).isspace() for
# i < 128 → {\t \n \v \f \r \x1c \x1d \x1e \x1f ' '}
_ASCII_WS = np.zeros(256, dtype=bool)
_ASCII_WS[[9, 10, 11, 12, 13, 28, 29, 30, 31, 32]] = True


def batch_text_to_intensity(
    texts,
    tokenizer: str = "whitespace",
    mode: str = "token_len",
    buckets: int = 64,
) -> list:
    """Per-doc intensity arrays for a list of docs at once: the whitespace
    tokenizer with token_len intensities runs the byte tokenizer
    (``_tokenize_bytes``) once over the docs packed into one Arrow string
    array; other tokenizers/modes fall back wholesale to the per-doc
    path. Parity is pinned per-doc in tests/test_text.py.
    """
    if tokenizer != "whitespace" or mode != "token_len":
        return [text_to_intensity(t or "", tokenizer, mode, buckets)
                for t in texts]
    if not len(texts):
        return []
    import pyarrow as pa

    tok_len, counts = _tokenize_bytes(
        *_arrow_bytes(pa.array(texts, type=pa.string())), lambda i: texts[i])
    return np.split(tok_len, np.cumsum(counts)[:-1])


def _tokenize_bytes(a: np.ndarray, starts: np.ndarray, doc_text=None):
    """(tok_len, counts) of the whitespace tokenizer with token_len
    intensities over docs packed back to back in the UTF-8 buffer ``a``
    (int64 doc byte offsets ``starts``, size n_docs+1, starts[-1] ==
    a.size).

    ONE byte-level numpy pass over the batch — whitespace mask → paired
    token start/end runs — instead of a Python len() per token (the decode
    was ~1/3 of kernel wall at ~280 ns/token; this is ~10 numpy ops per
    BATCH). Byte semantics are exact for arbitrary UTF-8: multi-byte
    sequences never contain bytes < 0x80, so the 10 _ASCII_WS bytes always
    mean real ascii whitespace, and the token byte length IS the token_len
    intensity. The one hazard is genuine unicode whitespace (U+0085,
    U+00A0, U+1680, U+2000–200A, U+2028/29/2F, U+205F, U+3000 — separators
    for str.split() that the byte mask can't see): a vectorized scan for
    their UTF-8 lead pairs routes only the (rare) docs containing a
    suspect sequence to the per-doc path, ``text_to_intensity(doc_text(i))``
    — conservatively, since e.g. \\xe2\\x80 also prefixes dashes. With no
    ``doc_text`` a batch holding a suspect returns None.
    """
    n = starts.size - 1
    if a.size == 0:
        return np.empty(0, dtype=np.int64), np.zeros(n, dtype=np.int64)
    # unicode-ws suspect scan restricted to multi-byte lead bytes (≥ 0xC2):
    # one full pass + tiny index ops instead of eight full boolean sweeps
    hi_pos = np.nonzero(a >= 0xC2)[0]
    hi_pos = hi_pos[hi_pos < a.size - 1]
    sus_pos = np.empty(0, dtype=np.int64)
    if hi_pos.size:
        lead, nxt = a[hi_pos], a[hi_pos + 1]
        sus = (
            ((lead == 0xC2) & ((nxt == 0x85) | (nxt == 0xA0)))
            | ((lead == 0xE1) & (nxt == 0x9A))
            | ((lead == 0xE2) & ((nxt == 0x80) | (nxt == 0x81)))
            | ((lead == 0xE3) & (nxt == 0x80)))
        sus_pos = hi_pos[sus]
    ws = _ASCII_WS[a]
    nonspace = ~ws
    prev_nonspace = np.empty_like(nonspace)
    prev_nonspace[0] = False
    prev_nonspace[1:] = nonspace[:-1]
    next_nonspace = np.empty_like(nonspace)
    next_nonspace[-1] = False
    next_nonspace[:-1] = nonspace[1:]
    is_doc_start = np.zeros(a.size + 1, dtype=bool)
    is_doc_start[starts[:-1]] = True  # a token never crosses a doc boundary
    tok_start = nonspace & (~prev_nonspace | is_doc_start[:-1])
    tok_end = nonspace & (~next_nonspace | is_doc_start[1:])
    # starts and ends pair 1:1 in position order (runs of nonspace, split
    # at doc boundaries) — token lengths without any per-token search
    s_pos = np.nonzero(tok_start)[0]
    tok_len = np.nonzero(tok_end)[0] - s_pos + 1
    # tokens-per-doc: one searchsorted over the (small) doc-starts array
    counts = np.diff(np.searchsorted(s_pos, starts))
    if not sus_pos.size:
        return tok_len, counts
    if doc_text is None:
        return None
    # splice each suspect doc's per-doc token lengths over its byte ones
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    pieces, prev = [], 0
    for i in np.unique(np.searchsorted(starts, sus_pos, side="right") - 1):
        fix = text_to_intensity(doc_text(i) or "")
        pieces += [tok_len[bounds[prev]:bounds[i]], fix]
        counts[i] = fix.size
        prev = i + 1
    pieces.append(tok_len[bounds[prev]:])
    return np.concatenate(pieces), counts


def _arrow_bytes(text_array):
    """(a, starts) for ``_tokenize_bytes`` straight from a pyarrow string
    array's buffers (validity, offsets, UTF-8 data) — ZERO-COPY: no python
    strings are ever materialized; the value buffer IS the concatenated
    corpus the byte-level tokenizer wants. None for a non-string type.
    Null docs are filled with "" first (an Arrow copy only when a null is
    present), so they become zero-length segments, matching ``text or ""``."""
    import pyarrow as pa

    arr = text_array
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type):
        off_dtype = np.int64
    elif pa.types.is_string(arr.type):
        off_dtype = np.int32
    else:
        return None
    if arr.null_count:
        arr = arr.fill_null("")
    n = len(arr)
    _, offsets_buf, data_buf = arr.buffers()
    if n == 0 or data_buf is None:  # empty column
        return np.empty(0, dtype=np.uint8), np.zeros(n + 1, dtype=np.int64)
    offsets = np.frombuffer(offsets_buf, dtype=off_dtype,
                            count=n + 1, offset=arr.offset * np.dtype(off_dtype).itemsize
                            ).astype(np.int64)
    data = np.frombuffer(data_buf, dtype=np.uint8)
    return data[offsets[0]:offsets[-1]], offsets - offsets[0]


def arrow_token_lens(text_array):
    """Zero-copy decode of a pyarrow string array (``_arrow_bytes``):
    (tok_len_concat int64, counts int64 per doc), or None when the batch
    needs a per-doc decode (a unicode-whitespace suspect sequence is
    present, or the type is not a string). Null docs decode as empty.
    """
    packed = _arrow_bytes(text_array)
    return None if packed is None else _tokenize_bytes(*packed)


def arrow_intensity(text_array, settings) -> Ragged:
    """Float64 intensity sequences of one Arrow batch of docs — the single
    decode every extraction operator runs before its batched kernels.

    Default settings (whitespace tokenizer, token_len) tokenize the Arrow
    buffers once, zero-copy (``_arrow_bytes``); only docs holding a
    unicode-whitespace suspect are decoded to python strings, one by one.
    Every other tokenizer or intensity mode, and non-string Arrow types,
    take ``batch_text_to_intensity``. Null docs decode as empty.
    """
    if settings.tokenizer == "whitespace" and settings.intensity_mode == "token_len":
        packed = _arrow_bytes(text_array)
        if packed is not None:
            tok_len, counts = _tokenize_bytes(
                *packed, lambda i: text_array[int(i)].as_py())
            return Ragged.from_concat(tok_len.astype(np.float64), counts)
    arrays = batch_text_to_intensity(
        text_array.to_pylist(), settings.tokenizer, settings.intensity_mode,
        settings.intensity_buckets)
    return Ragged([a.astype(np.float64) for a in arrays])
