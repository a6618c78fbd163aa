#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4): times each named query (default:
``bench.HEADLINE``) with the noop sink on the bench session config,
best-of-N, and optionally dumps ``explain("formatted")`` to a plans
directory.  Does NOT replace bench.py (frozen); this is the measurement
harness for optimization work.

    python bench_extra.py --sf-dir /root/testdata/sf1.0 --plans plans/r06 \
        --suffix before [--names q1_pricing_summary ...]

Prints one JSON line: {"queries": {name: best_sec}, "sf_dir": ..., "n": N}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from bench import HEADLINE
    from extractor.plan_lint import formatted_plan
    from extractor.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", app_name="bench-extra",
                      shuffle_partitions=cpus)
    queries = entry.queries()
    names = args.names or list(HEADLINE)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    out: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        best = None
        for _ in range(args.repeats):
            df = fn(spark, args.sf_dir)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            wall = time.monotonic() - t0
            best = wall if best is None else min(best, wall)
        out[name] = round(best, 3)
        print(f"[bench_extra] {name}: {best:.3f}s", file=sys.stderr, flush=True)
        if args.plans:
            df = fn(spark, args.sf_dir)
            plan = formatted_plan(df)
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    rec = {"queries": out, "sf_dir": args.sf_dir, "repeats": args.repeats,
           "total": round(sum(out.values()), 3)}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(rec, f, indent=1)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
