"""Dump .explain("formatted") for named queries to plans/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> <query ...>
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM, as for
bench.py, whose session conf is used.

Plan capture only — no timed execution; safe to run while other work is
in flight (plans are timing-independent). State-building accessors
(persisted indexes) still run their one-time builds.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
    )
    os.makedirs(outdir, exist_ok=True)

    from bench import _new_session
    from delfos_etl_pipeline_spark.queries import queries

    spark = _new_session()
    qs = queries()
    for name in names:
        try:
            import contextlib
            import io

            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
        except Exception as e:  # record the failure, keep going
            plan = f"ERROR capturing plan: {e!r}"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
