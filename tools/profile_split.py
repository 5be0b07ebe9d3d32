"""Split a query's per-invocation cost into plan CONSTRUCTION vs EXECUTION.

For each named query, in one fresh session per name:
  1. warm: 2 full invocations (codegen + file-index caches hot, and any
     build-once state accessors built),
  2. timed, 3 iterations each of:
       t_construct = time(fn(spark, sf_dir))          # Python build +
                     any driver collect jobs the builder runs
       t_analyze   = time(df.queryExecution.executedPlan materialization)
       t_execute   = time(noop write of a PRE-BUILT df)
Prints one JSON line per query. Methodology matches the SCALE.md r15
emb_kmeans_step variance pinning; used to decide where optimization
effort goes (guide §1).
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM, as for
bench.py, whose session conf is used.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import _new_session
    from delfos_etl_pipeline_spark.queries import queries
    from delfos_etl_pipeline_spark.sources.parquet import load_table

    spark = _new_session()
    qs = queries()
    load_table(spark, sf_dir, "lineitem").count()
    for name in names:
        fn = qs[name]
        try:
            for _ in range(2):  # warm
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cons, ana, exe = [], [], []
            for _ in range(3):
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
                df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
                cons.append(t1 - t0)
                ana.append(t2 - t1)
                exe.append(t3 - t2)
            med = lambda xs: round(sorted(xs)[1], 3)  # noqa: E731
            print(json.dumps({
                "query": name,
                "construct_s": med(cons),
                "analyze_s": med(ana),
                "execute_s": med(exe),
            }), flush=True)
        except Exception as e:
            print(json.dumps({"query": name, "error": repr(e)[:200]}),
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
