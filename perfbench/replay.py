"""Single-threaded replay of the extraction layers over a corpus file, in
the same 10000-row Arrow batches Spark hands ``extract_features``.

Times each public function of ``functions.text`` and ``kernels.batch`` in
the order ``operators.features`` calls them for the default settings
(``bin_width=1.0``, original image type, no mask), so the split of Python
time between decode and each kernel class can be read off directly.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.text import (arrow_token_lens,
                                              batch_text_to_intensity)
from pyradiomics_spark.kernels.batch import (Ragged, discretize_batch,
                                             firstorder_batch, glcm_batch,
                                             gldm_batch, ngtdm_batch,
                                             runs_batch_features,
                                             seqshape_batch)

BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in session.get_spark

KERNELS = ("ragged", "discretize", "firstorder", "glcm", "runs", "ngtdm",
           "gldm", "seqshape")


def replay(path: str, settings: ExtractionSettings | None = None) -> dict:
    """Busy seconds per layer step, plus batch/doc/token counts."""
    s = settings or ExtractionSettings(bin_width=1.0)
    t: dict = defaultdict(float)
    n = defaultdict(int)
    clock = time.perf_counter

    for rb in pq.ParquetFile(path).iter_batches(batch_size=BATCH_ROWS,
                                                columns=["text"]):
        col = rb.column(0)
        n["batches"] += 1
        a = clock()
        parsed = arrow_token_lens(col)
        b = clock()
        t["decode"] += b - a
        if parsed is None:
            arrays = [x.astype(np.float64) for x in batch_text_to_intensity(
                col.to_pylist(), s.tokenizer, s.intensity_mode,
                s.intensity_buckets)]
            c = clock()
            t["fallback"] += c - b
            r = Ragged(arrays)
        else:
            n["zero_copy"] += 1
            c = clock()
            r = Ragged.from_concat(parsed[0].astype(np.float64), parsed[1])
        d = clock()
        t["ragged"] += d - c
        n["docs"] += r.B
        n["tokens"] += int(r.x.size)

        # the gray-level guard's segment extrema are part of discretizing
        fl = np.floor(r.x / s.bin_width)
        r.segmin(fl), r.segmax(fl)
        levels = discretize_batch(r, s.bin_width, s.bin_count)
        e = clock()
        t["discretize"] += e - d
        firstorder_batch(r, levels, s.voxel_array_shift)
        f = clock()
        t["firstorder"] += f - e
        glcm_batch(r, levels, s.distances, s.symmetrical_glcm,
                   s.weighting_norm, None)
        g = clock()
        t["glcm"] += g - f
        runs_batch_features(r, levels, None)
        h = clock()
        t["runs"] += h - g
        ngtdm_batch(r, levels, s.distances, None)
        i = clock()
        t["ngtdm"] += i - h
        gldm_batch(r, levels, s.gldm_a, s.distances, None)
        j = clock()
        t["gldm"] += j - i
        seqshape_batch(r, None)
        t["seqshape"] += clock() - j
    return {"seconds": dict(t), "counts": dict(n)}
