"""End-to-end pipeline demo: the BASELINE.md benchmark-protocol shape —
pages scan → per-snapshot feature extraction → point-in-time as-of cuts →
gap sessionize of snapshot cadence → checkpointed write with lineage.

One callable so bench.py (and tests) can measure wall-clock "from first scan
to committed snapshot".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.operators.features import extract_features
from pyradiomics_spark.operators.asof import asof_join
from pyradiomics_spark.operators.windows import sessionize
from pyradiomics_spark.operators.leakage import audit_cut
from pyradiomics_spark.session import cache, scope
from pyradiomics_spark.sources.sinks import append_stage


@scope()
def full_pipeline(
    pages: DataFrame,
    out_path: str | None = None,
    settings: ExtractionSettings | None = None,
    cut_interval: str = "7 days",
    session_gap_seconds: float = 86400.0,
) -> dict:
    """Run the whole north-rule pipeline; returns metrics dict.

    1. extract 93-feature vectors per (url, warc_ts) — shuffle-free;
    2. build weekly cut timestamps per url (ceil of max span) and as-of join
       the latest feature vector to each cut — zero leakage (audited);
    3. sessionize snapshot cadence per url (1-day gap);
    4. append both outputs + lineage to ``out_path`` (if given).
    """
    if settings is None:
        settings = ExtractionSettings(bin_width=1.0)

    # one materialization of the scan: every downstream branch (features,
    # bounds, sessionize) re-reads the cached pages instead of re-running
    # the source DAG per action. The call's scope releases only the caches
    # it made, on every exit path — a caller's own cache of ``pages`` stays.
    lvl = pages.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        cache(pages)
    n_pages = pages.count()

    feats = extract_features(pages, keys=("url", "warc_ts"), settings=settings)

    bounds = pages.groupBy("url").agg(
        F.min("warc_ts").alias("mn"), F.max("warc_ts").alias("mx"))
    cuts = bounds.select(
        "url",
        F.explode(
            F.sequence(
                F.date_trunc("week", F.col("mn")).cast("timestamp"),
                F.col("mx").cast("timestamp") + F.expr(f"INTERVAL {cut_interval}"),
                F.expr(f"INTERVAL {cut_interval}"),
            )
        ).alias("cut_ts"),
    )

    # deterministic_ties=False: extraction output is keyed by the scan's
    # (url, warc_ts), which is unique per construction — the tie-dedupe
    # exchange would re-shuffle the 108-column payload for nothing (the
    # exact hot-path case the BENCH.md as-of note describes)
    served = asof_join(cuts, feats, on="url", left_ts="cut_ts",
                       right_ts="warc_ts", deterministic_ties=False)

    sessions = sessionize(pages.select("url", "warc_ts"), "url", "warc_ts",
                          gap_seconds=session_gap_seconds)
    n_sessions = sessions.select("url", "session_id").distinct().count()

    # execute the expensive extract→asof DAG exactly ONCE: commit it (the
    # lineage is read back from the committed files), then run the count
    # and the leakage audit over the committed snapshot
    spark = served.sparkSession
    if out_path:
        append_stage(served, f"{out_path}/feature_cuts", ts_col="cut_ts")
        committed = spark.read.parquet(f"{out_path}/feature_cuts")
    else:
        committed = cache(served)
    n_cuts = committed.count()
    leaks = audit_cut(committed, "cut_ts", "warc_ts")

    return {
        "n_pages": n_pages,
        "n_cuts": n_cuts,
        "n_sessions": n_sessions,
        "leak_violations": sum(leaks.values()),
    }
