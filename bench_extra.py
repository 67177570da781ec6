"""Extra benchmarks for the optimization rounds (bench.py is FROZEN).

Per-query isolation at the driver's headline shape: same session config as
bench.py's run_headline_queries (local[$SPARK_GRAFT_CPUS],
shuffle_partitions=max(cpus,8), same noop warm-up), but each query runs
`--reps` times (first rep ~= the driver's one-shot figure; the min strips
steal noise per BENCH/BASELINE.md's additive-steal argument), the number of
Spark jobs each query fires is recorded (fixed per-job latency dominates at
the sf0.1 input sizes — documents.parquet is 5k rows), and
`.explain("formatted")` is captured to <plans-dir>/<query>_<tag>.txt.

Usage:
    python bench_extra.py [--queries a,b,c] [--reps 3] [--tag before]
                          [--plans-dir plans/r07] [--no-plans]
Prints one JSON line: {"queries": {name: [rep_secs...]}, "jobs": {name: n}}.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = ["v_strlen_pattern", "v_array_items", "stats_documents",
            "uniqueness_users", "referential_users", "dedup_exact",
            "text_token_stats", "text_quality", "text_langid",
            "sim_knn_threshold", "dedup_minhash_pairs", "flagship_interleaved",
            "pipeline_curate"]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--queries", default=None,
                   help="comma list (default: the 13 headline queries)")
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--tag", default="before",
                   help="<plans-dir>/<query>_<tag>.txt suffix")
    p.add_argument("--plans-dir", default=None,
                   help="directory the formatted plans are written to, "
                        "relative to this file (e.g. plans/r07)")
    p.add_argument("--no-plans", action="store_true")
    args = p.parse_args()
    if not args.no_plans and args.plans_dir is None:
        p.error("--plans-dir is required unless --no-plans is given")

    import __spark_entry__ as entrymod
    from xema_spark.session import get_spark

    names = args.queries.split(",") if args.queries else HEADLINE
    spark = get_spark(app_name="bench_extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    if not args.no_plans:
        plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 args.plans_dir)
        os.makedirs(plans_dir, exist_ok=True)
    out: dict[str, list[float]] = {}
    jobs: dict[str, int] = {}
    tracker = spark.sparkContext.statusTracker()
    try:
        # same warm-up as bench.py: noop scan of every table under SF_DIR
        for pq in sorted(glob.glob(f"{SF_DIR}/*.parquet")):
            (spark.read.parquet(pq)
             .write.format("noop").mode("overwrite").save())
        for name in names:
            reps = []
            for rep in range(args.reps):
                spark.sparkContext.setJobGroup(f"{name}_{rep}", name)
                spark.sparkContext.setJobDescription(f"{name} rep{rep}")
                t0 = time.time()
                df = qs[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                reps.append(round(time.time() - t0, 3))
                if rep == 0:
                    jobs[name] = len(tracker.getJobIdsForGroup(f"{name}_0"))
                spark.sparkContext.setJobGroup("", "")
            out[name] = reps
            if not args.no_plans:
                plan = qs[name](spark, SF_DIR)._jdf.queryExecution() \
                    .explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
                with open(os.path.join(plans_dir,
                                       f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(plan)
            print(json.dumps({name: reps, "jobs": jobs.get(name)}),
                  file=sys.stderr, flush=True)
    finally:
        spark.stop()
    print(json.dumps({"queries": out, "jobs": jobs, "sf": SF_DIR,
                      "cpus": CPUS}))


if __name__ == "__main__":
    main()
