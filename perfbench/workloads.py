"""The benchmark workloads: input generation, the public call that
is timed, the output check, and a traced variant that runs the same work
as separate public-layer calls, each under its own Spark job group.

A check raises ``CheckFailed``; the runner counts that call as failed.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench import inputs
from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.textstats import (quality_features,
                                                   repetition_ratio)
from pyradiomics_spark.operators.asof import asof_join
from pyradiomics_spark.operators.components import connected_components
from pyradiomics_spark.operators.dedup import (minhash_lsh_candidates,
                                               minhash_signatures,
                                               ngram_jaccard_pairs)
from pyradiomics_spark.operators.features import (extract_features,
                                                  feature_columns)
from pyradiomics_spark.operators.leakage import audit_cut
from pyradiomics_spark.operators.sampling import (cross_split_contamination,
                                                  pack_sequences,
                                                  split_dataset)
from pyradiomics_spark.operators.windows import sessionize
from pyradiomics_spark.plans.curation import curate
from pyradiomics_spark.plans.demo import full_pipeline
from pyradiomics_spark.sources.sinks import append_stage

SETTINGS = ExtractionSettings(bin_width=1.0)
KEYS = ("url", "warc_ts")
CUT_INTERVAL = "1 day"
SAMPLE_URLS = 20


class CheckFailed(Exception):
    pass


def _defaults(fn) -> dict:
    """Keyword defaults of a plan, so the traced variant runs it with the
    same parameters as the plain call."""
    return {k: p.default for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty}


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Groups:
    """Labels Spark jobs with one job group per layer call and keeps the
    wall time spent inside each label."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.wall: dict = {}

    @contextmanager
    def __call__(self, name: str):
        self._sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.path = os.path.join(work, "in", f"{self.name}.parquet")
        self.info: dict = {}

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def call(self, spark, i: int):
        """The timed public call; returns (rows, result)."""
        raise NotImplementedError

    def check(self, spark, result, i: int) -> None:
        raise NotImplementedError

    def traced(self, spark, groups: Groups) -> dict:
        """The same work as layer calls under job groups; returns counts
        only the traced run can see."""
        raise NotImplementedError


# ------------------------------------------------------------- pit_pipeline

def _cut_grid(pages: pd.DataFrame) -> pd.DataFrame:
    """Per-url daily cuts from the Monday of the first snapshot's week to
    one interval past the last snapshot (plans.demo's grid)."""
    g = pages.groupby("url")["warc_ts"].agg(["min", "max"])
    start = g["min"].dt.normalize() - pd.to_timedelta(g["min"].dt.weekday, unit="D")
    n = (g["max"] + pd.Timedelta(days=1) - start) // pd.Timedelta(days=1) + 1
    return pd.DataFrame({"url": g.index, "start": start.to_numpy(),
                         "n": n.to_numpy()})


class PitPipeline(Workload):
    """plans.demo.full_pipeline into a fresh output directory per call."""

    name = "pit_pipeline"

    def prepare(self, spark):
        info = inputs.make_pit(spark, self.seed, self.path)
        pages = info.pop("pages")
        self.info = info
        grid = _cut_grid(pages)
        self.expected_cuts = int(grid["n"].sum())
        urls = np.random.default_rng(self.seed).choice(
            grid["url"].to_numpy(), size=SAMPLE_URLS, replace=False)
        self.sample_urls = sorted(urls.tolist())
        self.expected_sample = self._merge_asof(
            pages[pages["url"].isin(self.sample_urls)],
            grid[grid["url"].isin(self.sample_urls)])

    @staticmethod
    def _merge_asof(pages, grid) -> pd.DataFrame:
        cuts = pd.DataFrame({
            "url": np.repeat(grid["url"].to_numpy(), grid["n"].to_numpy()),
            "cut_ts": np.concatenate([
                s + pd.to_timedelta(np.arange(n), unit="D")
                for s, n in zip(grid["start"], grid["n"])]),
        }).sort_values("cut_ts")
        right = pages.assign(
            diag_n_tokens=pages["text"].str.split().str.len().astype("float64")
        )[["url", "warc_ts", "diag_n_tokens"]].sort_values("warc_ts")
        out = pd.merge_asof(cuts, right, left_on="cut_ts", right_on="warc_ts",
                            by="url", direction="backward",
                            allow_exact_matches=True)
        return out.sort_values(["url", "cut_ts"]).reset_index(drop=True)

    def _out(self, i):
        return os.path.join(self.work, "out", f"pit{i}")

    def call(self, spark, i):
        m = full_pipeline(spark.read.parquet(self.path), out_path=self._out(i),
                          settings=SETTINGS, cut_interval=CUT_INTERVAL)
        return m["n_cuts"], m

    def check(self, spark, m, i):
        try:
            _require(m["leak_violations"] == 0,
                     f"{m['leak_violations']} leaking cut rows")
            _require(m["n_pages"] == self.info["rows"],
                     f"n_pages {m['n_pages']} != input rows {self.info['rows']}")
            _require(m["n_cuts"] == self.expected_cuts,
                     f"n_cuts {m['n_cuts']} != pandas count {self.expected_cuts}")
            got = (spark.read.parquet(os.path.join(self._out(i), "feature_cuts"))
                   .where(F.col("url").isin(self.sample_urls))
                   .select("url", "cut_ts", "warc_ts", "diag_n_tokens")
                   .toPandas().sort_values(["url", "cut_ts"])
                   .reset_index(drop=True))
            want = self.expected_sample
            _require(len(got) == len(want),
                     f"sample cut rows {len(got)} != merge_asof {len(want)}")
            same_ts = (got["warc_ts"].isna() & want["warc_ts"].isna()) | (
                got["warc_ts"] == want["warc_ts"])
            same_tok = (got["diag_n_tokens"].isna() & want["diag_n_tokens"].isna()) | (
                got["diag_n_tokens"].astype("float64") == want["diag_n_tokens"])
            _require(bool((got["cut_ts"] == want["cut_ts"]).all()
                          and same_ts.all() and same_tok.all()),
                     "sampled urls disagree with pandas.merge_asof")
        finally:
            shutil.rmtree(self._out(i), ignore_errors=True)

    def traced(self, spark, groups):
        """plans.demo.full_pipeline, one layer call at a time; each step's
        output is cached so the next group computes only its own layer."""
        out = self._out("traced")
        held = []

        def keep(df):
            held.append(df.cache())
            return df.count()

        try:
            pages = spark.read.parquet(self.path)
            with groups("plans.demo.step"):
                keep(pages)
            with groups("operators.features"):
                feats = extract_features(pages, keys=KEYS, settings=SETTINGS)
                n_feats = keep(feats)
            # every feature of a NaN doc is NaN; count off the cached output
            nan_docs = feats.where(F.isnan(feature_columns(SETTINGS)[0])).count()
            with groups("plans.demo.step"):
                bounds = pages.groupBy("url").agg(
                    F.min("warc_ts").alias("mn"), F.max("warc_ts").alias("mx"))
                step = F.expr(f"INTERVAL {CUT_INTERVAL}")
                cuts = bounds.select("url", F.explode(F.sequence(
                    F.date_trunc("week", F.col("mn")).cast("timestamp"),
                    F.col("mx").cast("timestamp") + step, step)).alias("cut_ts"))
                n_cuts_in = keep(cuts)
            with groups("operators.asof"):
                served = asof_join(cuts, feats, on="url", left_ts="cut_ts",
                                   right_ts="warc_ts", deterministic_ties=False)
                rows_out = keep(served)
            with groups("operators.windows"):
                sessionize(pages.select("url", "warc_ts"), "url", "warc_ts",
                           gap_seconds=_defaults(full_pipeline)["session_gap_seconds"],
                           ).select("url", "session_id").distinct().count()
            with groups("sources.sinks"):
                append_stage(served, f"{out}/feature_cuts", ts_col="cut_ts")
            files = sum(len(f) for _, _, f in os.walk(out))
            committed = spark.read.parquet(f"{out}/feature_cuts")
            with groups("plans.demo.step"):
                n_cuts = committed.count()
            with groups("operators.leakage"):
                leaks = sum(audit_cut(committed, "cut_ts", "warc_ts").values())
        finally:
            for df in held:
                df.unpersist()
            shutil.rmtree(out, ignore_errors=True)
        _require(leaks == 0, f"{leaks} leaking cut rows (traced)")
        _require(n_cuts == self.expected_cuts,
                 f"traced n_cuts {n_cuts} != pandas count {self.expected_cuts}")
        return {"features": n_feats, "nan_docs": nan_docs,
                "asof_rows_in": n_cuts_in + n_feats,
                "asof_rows_out": rows_out, "files_written": files}


# ------------------------------------------------------------------- curate

class Curate(Workload):
    """plans.curation.curate over docs with planted exact and near dups."""

    name = "curate"

    def prepare(self, spark):
        self.info = inputs.make_curate(spark, self.seed, self.path)
        self.first = None

    def call(self, spark, i):
        m = curate(spark.read.parquet(self.path))
        return m["n_raw"], m

    def check(self, spark, m, i):
        _require(m["n_raw"] == self.info["rows"],
                 f"n_raw {m['n_raw']} != input rows {self.info['rows']}")
        want = self.info["rows"] - self.info["exact_dups"]
        _require(m["n_after_exact_dedup"] == want,
                 f"n_after_exact_dedup {m['n_after_exact_dedup']} != {want}")
        _require(m["cross_split_contamination"] == 0,
                 "train/eval contamination after exact dedup")
        if self.first is None:
            self.first = m
        _require(m == self.first, f"stage counts {m} != first run {self.first}")

    def traced(self, spark, groups):
        """plans.curation.curate with its default parameters, one layer
        call at a time, outputs cached between groups."""
        d = _defaults(curate)
        id_col, text_col, shingle_n = d["id_col"], d["text_col"], d["shingle_n"]
        held = []

        def keep(df):
            held.append(df.cache())
            return df.count()

        try:
            docs = spark.read.parquet(self.path)
            with groups("plans.curation.step"):
                w_exact = Window.partitionBy(F.sha2(F.col(text_col).cast("binary"), 256))
                flagged = docs.withColumn(
                    "__exact", F.row_number().over(w_exact.orderBy(id_col)) == 1
                ).withColumn("dup_count", F.count("*").over(w_exact))
                keep(flagged)
                exact = flagged.where("__exact")
            with groups("operators.dedup.minhash"):
                sigs = minhash_signatures(exact, id_col, text_col, d["num_hashes"], shingle_n)
                cand = minhash_lsh_candidates(sigs, id_col, d["num_hashes"], d["bands"],
                                              bucket_cap=d["bucket_cap"])
                n_cand = keep(cand)
            with groups("operators.dedup.verify"):
                verified = ngram_jaccard_pairs(exact, id_col, text_col, shingle_n, cand).where(
                    F.col("jaccard") >= d["jaccard_threshold"])
                n_verified = keep(verified)
            before = persistent_rdds(spark)
            with groups("operators.components"):
                comp = connected_components(verified, "id_a", "id_b",
                                            assume_distinct=True)
                comp.count()
            leaked = persistent_rdds(spark) - before
            with groups("plans.curation.step"):
                losers = comp.where(F.col("id") != F.col("component")).select(
                    F.col("id").alias(id_col), F.lit(True).alias("__loser"))
                flagged = (flagged.join(losers, id_col, "left")
                           .withColumn("__surv", F.col("__exact") & F.col("__loser").isNull())
                           .drop("__loser")
                           .withColumn("__qtext", F.when(F.col("__surv"), F.col(text_col))))
                keep(flagged)
            with groups("functions.textstats"):
                flagged = quality_features(flagged, "__qtext").withColumn(
                    "rep_ratio", repetition_ratio(F.col("__qtext"))).drop("__qtext")
                keep(flagged)
            with groups("plans.curation.step"):
                flagged = flagged.withColumn(
                    "__kept", F.col("__surv") & (F.col("quality_score") >= d["min_quality"])
                    & (F.coalesce(F.col("rep_ratio"), F.lit(0.0)) <= d["max_repetition"]))
                flagged = split_dataset(flagged, id_col, seed=d["seed"])
                keep(flagged)
                n_exact = flagged.where("__exact").count()
            with groups("operators.sampling"):
                kept = flagged.where("__kept").drop("__exact", "__surv", "__kept")
                packed = pack_sequences(
                    kept.where(F.col("split") == "train").withColumn(
                        "__n_tok", F.size(F.filter(F.split(F.col(text_col), " "),
                                                   lambda x: x != ""))),
                    id_col, "__n_tok", budget=d["pack_budget"], seed=d["seed"])
                packed.agg(F.count("*"), F.sum("__n_tok")).collect()
                n_contam = cross_split_contamination(kept, id_col, text_col).count()
        finally:
            for df in held:
                df.unpersist()
        want = self.info["rows"] - self.info["exact_dups"]
        _require(n_exact == want, f"traced exact survivors {n_exact} != {want}")
        _require(n_contam == 0, "traced train/eval contamination")
        return {"candidate_pairs": n_cand, "verified_pairs": n_verified,
                "components_leaked_rdds": leaked}


WORKLOADS = {w.name: w for w in (PitPipeline, Curate)}
