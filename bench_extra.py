"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; extra instrumentation lives here — guide §1.4/§1.5).

Per query: DataFrame CONSTRUCTION time (py4j plan building + any driver-loop
jobs) and EXECUTION time (noop sink materialization) measured separately,
min over repeats, plus optional `.explain("formatted")` capture into
plans/r06/<query>_<tag>.txt. Each query's caches are released after it is
materialized, so every repeat runs cold.

Usage:
  python bench_extra.py [--queries q1,q2,...] [--repeats N] [--explain TAG]
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None, help="comma list; default HEADLINE")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--explain", default=None, metavar="TAG",
                    help="capture explain('formatted') to plans/r06/<q>_<TAG>.txt")
    ap.add_argument("--flagship", action="store_true", help="also run the flagship job")
    args = ap.parse_args()

    from eva_opentargets_spark.queries import QUERIES
    from eva_opentargets_spark.session import Persisted, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = args.queries.split(",") if args.queries else list(HEADLINE)

    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    plans_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)

    out = {}
    for r in range(args.repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"r06 {name} rep{r}")
            t0 = time.time()
            with Persisted() as held:
                df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            rec = out.setdefault(name, {"construct": t1 - t0, "exec": t2 - t1,
                                        "total": t2 - t0})
            rec["construct"] = min(rec["construct"], t1 - t0)
            rec["exec"] = min(rec["exec"], t2 - t1)
            rec["total"] = min(rec["total"], t2 - t0)
            if args.explain and r == 0:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(plans_dir, f"{name}_{args.explain}.txt"), "w") as fh:
                    fh.write(plan)
            held.release()
        spark.sparkContext.setJobDescription(None)

    if args.flagship:
        from bench import flagship_turns_per_sec
        out["__flagship"] = flagship_turns_per_sec(spark, sf_dir, runs=args.repeats)

    for name, rec in out.items():
        if name.startswith("__"):
            print(name, json.dumps(rec))
        else:
            print(f"{name:28s} construct={rec['construct']:7.3f}  "
                  f"exec={rec['exec']:7.3f}  total={rec['total']:7.3f}")
    total = sum(r["total"] for n, r in out.items() if not n.startswith("__"))
    print(json.dumps({"suite_total_sec": round(total, 3), "repeats": args.repeats,
                      "cpus": int(cpus), "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
