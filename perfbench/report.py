"""One command for the headline numbers of all three workloads.

    python3 perfbench/report.py [--seed N] [--seconds S]

Runs each workload untraced once and prints, by name and unit:
``setup_s`` and ``peak_rss_mb`` per workload, ``day_p50_s`` and
``day_p90_s`` (sensor_daily, at least 100 timed days so that ten lie beyond
the p90), ``backfill_rows_per_s`` (sensor_backfill) and ``mix_pass_s``
(query_mix), with every workload's correctness tally.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from data import RECIPE  # noqa: E402

#: Timed days needed for a p90 with ten samples beyond it.
P90_DAYS = 100


def run(workload: str, seed: int, seconds: float, samples: str, min_ops: int = 1) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
           "--min-ops", str(min_ops), "--samples", samples]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0 and not out.stdout.strip():
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload}: run.py exited {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(samples) as f:
        result["samples"] = json.load(f)
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    args = p.parse_args()

    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    rows = []
    ok = True
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        results = {
            w: run(w, args.seed, args.seconds, os.path.join(tmp, f"{w}.json"),
                   P90_DAYS if w == "sensor_daily" else 1)
            for w in ("sensor_daily", "sensor_backfill", "query_mix")
        }
    for w, r in results.items():
        m = {k: v["value"] for k, v in r["metrics"].items()}
        rows += [(w, "setup_s", m["setup_s"], "s"), (w, "peak_rss_mb", m["peak_rss_mb"], "MiB")]
        if w == "sensor_daily":
            days = r["samples"]
            rows.append((w, "day_p50_s", statistics.median(days), "s"))
            p90 = statistics.quantiles(days, n=10)[-1] if len(days) >= P90_DAYS else float("nan")
            rows.append((w, "day_p90_s", p90, "s"))
            rows.append((w, "days_timed", len(days), "count"))
        elif w == "sensor_backfill":
            rows.append((w, "backfill_rows_per_s", RECIPE["sensor"]["rows"] / m["op_p50_s"], "1/s"))
        else:
            rows.append((w, "mix_pass_s", m["op_p50_s"], "s"))
        rows.append((w, "failed_of_attempted", f"{r['failed']}/{r['attempted']}", "count"))
        ok &= r["correct"] and r["failed"] == 0
    try:
        os.rmdir(work)
    except OSError:
        pass
    for w, name, value, unit in rows:
        shown = f"{value:.4f}" if isinstance(value, float) else str(value)
        print(f"{w:16s} {name:22s} {shown:>14s} {unit}")
    print("all outputs correct" if ok else "SOME OUTPUTS WRONG")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
