#!/usr/bin/env python3
"""Seeded end-to-end benchmark of pyradiomics_spark.

    python3 perfbench/run.py --workload pit_pipeline|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. One process is one Spark application, the
way a scheduled pipeline job runs: it sets up a local session on every
core (``local[nproc]``) several times, generates the workload's inputs
from the seed and writes them to parquet, checks the extraction goldens,
then calls the workload back-to-back (a closed loop with one client)
until ``--seconds`` have passed, at least once, checking every output.
The first call is the application's cold one and is measured like the
rest. The last stdout line is one JSON object; with ``--trace 0`` it
carries the end-to-end metrics, with ``--trace 1`` the per-layer ones.

The traced run writes Spark's event log, labels those calls with their
plan's job group, makes TRACE_WARM_CALLS more calls (session drift),
then runs the same work as separate public-layer calls, each under its
own job group, parses the log per group, and replays the extraction
layers single-threaded in this process. Everything a run writes stays
under ``.perfbench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3  # session set-ups per run; setup_s is their median
TRACE_WARM_CALLS = 2
# the inputs need far less heap than the 8g session default; a smaller cap
# keeps the JVM, and peak_rss_mb with it, from growing into idle heap
DRIVER_MEMORY = "2g"

END_TO_END = {
    "wall_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
    "ok_share": "ratio",
}

PER_LAYER = {
    "functions.text.decode_s": "s",
    "functions.text.fallback_s": "s",
    "functions.text.tokens": "count",
    "functions.text.zero_copy_ratio": "ratio",
    **{f"kernels.batch.{k}_s": "s" for k in ("ragged", "discretize", "firstorder",
                                              "glcm", "runs", "ngtdm", "gldm", "seqshape")},
    "kernels.batch.docs": "count",
    "operators.features.jobs": "count",
    "operators.features.task_s": "s",
    "operators.features.python_run_s": "s",
    "operators.features.python_start_s": "s",
    "operators.features.python_init_s": "s",
    "operators.features.python_bytes_sent": "bytes",
    "operators.features.python_bytes_returned": "bytes",
    "operators.features.shuffle_write_bytes": "bytes",
    "operators.features.assembly_s": "s",
    "operators.features.nan_doc_share": "ratio",
    "operators.features.driver_gap_s": "s",
    "operators.asof.jobs": "count",
    "operators.asof.task_s": "s",
    "operators.asof.shuffle_write_bytes": "bytes",
    "operators.asof.spill_bytes": "bytes",
    "operators.asof.rows_in": "count",
    "operators.asof.rows_out": "count",
    "operators.windows.task_s": "s",
    "operators.windows.shuffle_write_bytes": "bytes",
    "sources.sinks.jobs": "count",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "operators.leakage.jobs": "count",
    "operators.leakage.task_s": "s",
    "operators.dedup.minhash_task_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.shuffle_write_bytes": "bytes",
    "operators.components.jobs": "count",
    "operators.components.task_s": "s",
    "operators.components.leaked_rdds": "count",
    "functions.textstats.task_s": "s",
    "operators.sampling.jobs": "count",
    "operators.sampling.task_s": "s",
    **{f"{plan}.{m}": u for plan in ("plans.demo", "plans.curation")
       for m, u in (("jobs", "count"), ("stages", "count"), ("task_s", "s"),
                    ("spill_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                    ("driver_gap_s", "s"))},
    "session.leaked_rdds": "count",
    "session.conf_changes": "count",
    "session.gc_s": "s",
    "session.warm_excess_s": "s",
    "session.first_half_wall_s": "s",
    "session.second_half_wall_s": "s",
    "session.cold_setup_s": "s",
    "trace.logged_wall_s": "s",
    "trace.overhead_s": "s",
}

#: the plain public call of each pipeline workload, as a job group
PLAN_GROUP = {"pit_pipeline": "plans.demo", "curate": "plans.curation"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("pit_pipeline", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``; must run before the JVM starts."""
    for sub in ("local", "tmp", "events", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.dir": (work / "events").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.sql.warehouse.dir": (work / "warehouse").as_uri(),
        "spark.ui.showConsoleProgress": "false",
    }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    args += ["--driver-java-options",
             f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


_T0 = time.perf_counter()


def _log(*what) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s]", *what, file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


def set_up(cores: int):
    """One session set-up as a user pays it: ``get_spark`` plus a first
    Arrow UDF job that starts a Python worker on every core."""
    from pyradiomics_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores)
    df = spark.range(0, cores * 64, 1, cores)
    df.mapInArrow(_identity, df.schema).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, spark


def golden_check(spark) -> None:
    """Extraction over the committed fixture corpus equals the committed
    ``doc_plain`` goldens (rtol 1e-9); the goldens are only read."""
    import numpy as np
    import pandas as pd

    from perfbench.workloads import KEYS, SETTINGS, CheckFailed
    from pyradiomics_spark.operators.features import extract_features

    gdir = ROOT / "tests" / "goldens"
    golden = pd.read_parquet(gdir / "golden_doc_plain.parquet")
    pages = spark.createDataFrame(pd.read_parquet(gdir / "fixture_pages.parquet"))
    got = extract_features(pages, keys=KEYS, settings=SETTINGS).toPandas()
    key = ["url", "warc_ts", "image_type"]
    if len(got) != len(golden):
        raise CheckFailed(f"golden extraction: {len(got)} rows, want {len(golden)}")
    g = golden.sort_values(key).reset_index(drop=True)
    o = got[golden.columns].sort_values(key).reset_index(drop=True)
    num = [c for c in golden.columns if c not in key]
    gv, ov = g[num].to_numpy(dtype=float), o[num].to_numpy(dtype=float)
    close = np.isclose(gv, ov, rtol=1e-9, atol=1e-12) | (np.isnan(gv) & np.isnan(ov))
    if not g[key].equals(o[key]) or not close.all():
        raise CheckFailed("extraction differs from tests/goldens/golden_doc_plain.parquet")


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def timed_call(spark, wl, i: int, rss, label=contextlib.nullcontext) -> dict:
    """One workload call, timed (its jobs under ``label()``), then checked.
    Failures are reported on stderr and counted, never raised: the loop
    must keep running."""
    from perfbench.workloads import persistent_rdds

    # every call starts from a collected heap: G1 shrinks it after a full
    # GC, so the call's peak RSS does not depend on what ran before it
    spark._jvm.java.lang.System.gc()
    rdds, conf, gc = persistent_rdds(spark), spark.conf.getAll, gc_seconds(spark)
    rss.take()
    t0 = time.perf_counter()
    rows, ok = 0, False
    try:
        with label():
            rows, result = wl.call(spark, i)
        wall = time.perf_counter() - t0
        peak = rss.take()
        wl.check(spark, result, i)
        ok = True
    except Exception:  # noqa: BLE001 - counted as a failed call
        traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        peak = rss.take()
    conf_after = spark.conf.getAll
    changed = sum(conf.get(k) != conf_after.get(k) for k in set(conf) | set(conf_after))
    return {"ok": ok, "wall": wall, "rows": rows, "rss": peak,
            "leaked": persistent_rdds(spark) - rdds, "conf": changed,
            "gc": gc_seconds(spark) - gc}


def shutdown() -> None:
    """Stop the active session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=120)


def traced_pass(spark, wl, groups, work: Path) -> dict:
    """The layer-by-layer variant, then the whole session's event log
    aggregated per job group."""
    from perfbench import eventlog

    t0 = time.perf_counter()
    extras = wl.traced(spark, groups)
    traced_wall = time.perf_counter() - t0
    spark.stop()  # flushes the event log
    return {"groups": eventlog.by_group(eventlog.read_events(str(work / "events"))),
            "walls": groups.wall, "extras": extras, "traced_wall": traced_wall}


def layer_metrics(name: str, cores: int, setups: list, calls: list,
                  warm: list, traced: dict, rep: dict | None) -> dict:
    """Every PER_LAYER metric; layers the workload does not run read 0."""
    from perfbench.eventlog import COUNTERS
    from perfbench.replay import KERNELS

    ev, walls, ex = traced["groups"], traced["walls"], traced["extras"]
    zero = dict.fromkeys(COUNTERS, 0)

    def g(group):
        return ev.get(group, zero)

    m = dict.fromkeys(PER_LAYER, 0)
    if name == "pit_pipeline":
        sec, cnt = rep["seconds"], rep["counts"]
        m["functions.text.decode_s"] = sec["decode"]
        m["functions.text.fallback_s"] = sec.get("fallback", 0.0)
        m["functions.text.tokens"] = cnt["tokens"]
        m["functions.text.zero_copy_ratio"] = cnt.get("zero_copy", 0) / cnt["batches"]
        for k in KERNELS:
            m[f"kernels.batch.{k}_s"] = sec[k]
        m["kernels.batch.docs"] = cnt["docs"]
        fe = g("operators.features")
        for k in ("jobs", "task_s", "python_run_s", "python_start_s", "python_init_s",
                  "python_bytes_sent", "python_bytes_returned", "shuffle_write_bytes"):
            m[f"operators.features.{k}"] = fe[k]
        m["operators.features.assembly_s"] = fe["python_run_s"] - sum(sec.values())
        m["operators.features.nan_doc_share"] = ex["nan_docs"] / ex["features"]
        m["operators.features.driver_gap_s"] = (
            walls["operators.features"] - fe["task_s"] / cores)
        for k in ("jobs", "task_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"operators.asof.{k}"] = g("operators.asof")[k]
        m["operators.asof.rows_in"] = ex["asof_rows_in"]
        m["operators.asof.rows_out"] = ex["asof_rows_out"]
        m["operators.windows.task_s"] = g("operators.windows")["task_s"]
        m["operators.windows.shuffle_write_bytes"] = g("operators.windows")["shuffle_write_bytes"]
        m["sources.sinks.jobs"] = g("sources.sinks")["jobs"]
        m["sources.sinks.write_s"] = walls["sources.sinks"]
        m["sources.sinks.bytes_written"] = g("sources.sinks")["bytes_written"]
        m["sources.sinks.files_written"] = ex["files_written"]
        m["operators.leakage.jobs"] = g("operators.leakage")["jobs"]
        m["operators.leakage.task_s"] = g("operators.leakage")["task_s"]
    else:
        mh, ve = g("operators.dedup.minhash"), g("operators.dedup.verify")
        m["operators.dedup.minhash_task_s"] = mh["task_s"]
        m["operators.dedup.candidate_pairs"] = ex["candidate_pairs"]
        m["operators.dedup.verified_pairs"] = ex["verified_pairs"]
        m["operators.dedup.verify_yield"] = ex["verified_pairs"] / max(ex["candidate_pairs"], 1)
        m["operators.dedup.shuffle_write_bytes"] = mh["shuffle_write_bytes"] + ve["shuffle_write_bytes"]
        m["operators.components.jobs"] = g("operators.components")["jobs"]
        m["operators.components.task_s"] = g("operators.components")["task_s"]
        m["operators.components.leaked_rdds"] = ex["components_leaked_rdds"]
        m["functions.textstats.task_s"] = g("functions.textstats")["task_s"]
        m["operators.sampling.jobs"] = g("operators.sampling")["jobs"]
        m["operators.sampling.task_s"] = g("operators.sampling")["task_s"]
    plan = PLAN_GROUP[name]
    pg = g(plan)
    for k in ("jobs", "stages", "task_s", "spill_bytes", "shuffle_write_bytes"):
        m[f"{plan}.{k}"] = pg[k]
    m[f"{plan}.driver_gap_s"] = walls[plan] - pg["task_s"] / cores

    every = calls + warm
    half = len(warm) // 2
    m["session.leaked_rdds"] = statistics.median(c["leaked"] for c in every)
    m["session.conf_changes"] = max(c["conf"] for c in every)
    m["session.gc_s"] = statistics.median(c["gc"] for c in every)
    m["session.warm_excess_s"] = calls[0]["wall"] - statistics.median(c["wall"] for c in warm)
    m["session.first_half_wall_s"] = statistics.median(c["wall"] for c in warm[:half])
    m["session.second_half_wall_s"] = statistics.median(c["wall"] for c in warm[half:])
    m["session.cold_setup_s"] = setups[0]
    m["trace.logged_wall_s"] = statistics.median(c["wall"] for c in calls)
    m["trace.overhead_s"] = traced["traced_wall"] - statistics.median(c["wall"] for c in warm)
    return m


def end_to_end(setups: list, calls: list, ok_share: float) -> dict:
    """Medians over the successful calls (over all of them if none
    succeeded, so a broken run still reports its times)."""
    ok = [c for c in calls if c["ok"]] or calls
    return {
        "wall_s": statistics.median(c["wall"] for c in ok),
        "rows_per_s": statistics.median(c["rows"] / c["wall"] for c in ok),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": statistics.median(c["rss"] for c in ok) / 1e6,
        "ok_share": ok_share,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import pyradiomics_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if Path(pyradiomics_spark.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: pyradiomics_spark resolves outside {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run still uses it
            work.parent.rmdir()


def run(args, work: Path) -> int:
    from perfbench.procs import PeakRss
    from perfbench.replay import replay
    from perfbench.workloads import WORKLOADS, Groups

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](str(work), args.seed)
    attempted = failed = 0
    with PeakRss() as rss:
        try:
            setups, spark = [], None
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                dt, spark = set_up(cores)
                setups.append(dt)
            _log("setups", setups)
            wl.prepare(spark)
            _log("inputs", wl.info)
            attempted += 1
            try:
                golden_check(spark)
            except Exception:  # noqa: BLE001 - counted as a failed check
                traceback.print_exc(file=sys.stderr)
                failed += 1
            groups = Groups(spark)
            plan = PLAN_GROUP[args.workload]
            label = functools.partial(groups, plan) if args.trace else contextlib.nullcontext
            calls = []
            t0 = time.perf_counter()
            while not calls or time.perf_counter() - t0 < args.seconds:
                calls.append(timed_call(spark, wl, len(calls), rss, label))
                _log("call", calls[-1])
            if args.trace:
                warm = [timed_call(spark, wl, len(calls) + k, rss,
                                   functools.partial(groups, f"{plan}.warm"))
                        for k in range(TRACE_WARM_CALLS)]
                _log("warm calls", warm)
                traced = traced_pass(spark, wl, groups, work)
                rep = replay(wl.path) if args.workload == "pit_pipeline" else None
                metrics = layer_metrics(args.workload, cores, setups, calls,
                                        warm, traced, rep)
                units = PER_LAYER
                calls += warm
            attempted += len(calls)
            failed += sum(not c["ok"] for c in calls)
            if not args.trace:
                metrics = end_to_end(setups, calls, 1.0 - failed / attempted)
                units = END_TO_END
        finally:
            shutdown()
    print(f"{args.workload} seed={args.seed}: {len(calls)} timed calls, "
          f"fail_share={failed / attempted:.3f}, "
          + ", ".join(f"{k}={v:.4g}" for k, v in metrics.items()
                      if k in END_TO_END or k.startswith("session.")))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
