"""Round-6 optimization harness (guide §1) — NOT the driver bench.

Isolates individual declared queries with the noop sink, repeats them,
captures ``.explain("formatted")`` into plans/r06/, and (with --stages)
prints a per-query timing so hot stages can be attributed. bench.py is
frozen for measurement; cite numbers from here in OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py jaccard_join dedup_components      # time + plan
  python bench_extra.py --plans-only --suffix before jaccard_join
  python bench_extra.py --all                              # every query
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--suffix", default=None,
                    help="write plans/r06/<name>_<suffix>.txt")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--count", action="store_true",
                    help="time .count() (the frozen bench's action) "
                         "instead of the noop sink")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyradiomics_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark(app_name="bench_extra", cores=cpus)
    qs = e.queries()
    names = list(qs) if args.all else args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # warm workers exactly like bench.py so numbers are comparable
    import bench as _b

    _b._warmup(spark)

    out: dict = {}
    for name in names:
        if args.suffix:
            df = qs[name](spark, sf_dir)
            os.makedirs("plans/r06", exist_ok=True)
            with open(f"plans/r06/{name}_{args.suffix}.txt", "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        if args.plans_only:
            continue
        runs = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"r06:{name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = runs
        print(json.dumps({name: runs}), flush=True)
    if out:
        print(json.dumps({"all": out}))
    spark.stop()


if __name__ == "__main__":
    main()
