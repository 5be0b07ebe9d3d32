"""Benchmark self-test.

    python3 perfbench/selftest.py [--seed N] [--seconds S] [workload ...]

For each workload, runs two traced runs with the same seed and requires:

- every count (jobs, stages, tasks, files written, jobs run while a query
  is built, persisted RDDs left) to be exactly equal;
- every byte total (shuffle, spill, output) to agree within 0.1%: a stage
  that reads a shuffle gets its rows in fetch order, so compressed sizes
  downstream can differ by a few bytes;
- the layer spans of a traced op to cover 90-100% of it, and their sum to
  match the untraced op time within the tracing overhead plus 5% noise;
- both runs to have generated byte-identical inputs.

It also checks that ``BENCHMARK.json`` declares the metrics ``run.py``
emits and only workloads it has. With ``--reference DIR`` (a directory of
the engine's parquet test tables at the sizes in ``recipe.json``, as
described in TESTDATA.md) it compares the generated ``query_mix`` tables
with them: the same parquet schema (physical and logical types), row count
and row groups per table, and per column a distinct-value count within
10%. Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("sensor_daily", "sensor_backfill", "query_mix")


COUNTS = [k for k, u in PER_LAYER.items() if u == "count" and k != "op_samples"]
BYTES = [k for k, u in PER_LAYER.items() if u == "B"]
BYTES_TOLERANCE = 1e-3
SPAN_NOISE = 0.05


def traced_run(workload: str, seed: int, seconds: float) -> tuple[dict, str]:
    """The result of one traced run and the digest of its inputs."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload}: run.py exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    digest = next(line.split()[-1] for line in lines if line.startswith("inputs sha256 "))
    return json.loads(lines[-1]), digest


def check_tables(reference: str, seed: int) -> list[str]:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data import write_query_tables

    problems = []
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        out = write_query_tables(os.path.join(tmp, "tables"), seed)
        for name in sorted(os.listdir(out)):
            gen_file = pq.ParquetFile(os.path.join(out, name))
            ref_file = pq.ParquetFile(os.path.join(reference, name))
            # Parquet schemas: physical and logical types, timestamp units included.
            if not gen_file.schema.equals(ref_file.schema):
                problems.append(f"{name}: schema {gen_file.schema} != reference {ref_file.schema}")
                continue
            gen, ref = gen_file.read(), ref_file.read()
            shape = [(f.metadata.num_rows, f.metadata.num_row_groups) for f in (gen_file, ref_file)]
            if shape[0] != shape[1]:
                problems.append(f"{name}: (rows, row groups) {shape[0]} != reference {shape[1]}")
            for c in ref.column_names:
                if pa.types.is_list(ref.schema.field(c).type):
                    continue
                a, b = (len(pc.unique(t[c].combine_chunks())) for t in (gen, ref))
                if abs(a - b) > 0.1 * b:
                    problems.append(f"{name}.{c}: {a} distinct values, reference {b}")
            print(f"  {name}: {shape[0][0]} rows, schema and distinct counts compared")
    try:
        os.rmdir(work)
    except OSError:
        pass
    return problems


def check_declared() -> list[str]:
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    problems = []
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != emitted:
            problems.append(f"BENCHMARK.json {key} differs from run.py: "
                            f"{sorted(set(declared.items()) ^ set(emitted.items()))}")
    unknown = {w["name"] for w in bench["workloads"]} - set(WORKLOADS)
    if unknown:
        problems.append(f"BENCHMARK.json names workloads run.py lacks: {sorted(unknown)}")
    return problems


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("workloads", nargs="*", default=WORKLOADS)
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--reference", help="directory of parquet tables to compare the query_mix tables with")
    args = p.parse_args()

    problems = check_declared()
    if args.reference:
        problems += check_tables(args.reference, args.seed)
    for w in args.workloads:
        (a, da), (b, db) = (traced_run(w, args.seed, args.seconds) for _ in range(2))
        if da != db:
            problems.append(f"{w}: the same seed generated different inputs")
        for r in (a, b):
            if not r["correct"] or r["failed"]:
                problems.append(f"{w}: {r['failed']} of {r['attempted']} checks failed")
        for m in ({k: v["value"] for k, v in r["metrics"].items()} for r in (a, b)):
            gap = m["spans_s"] - m["op_untraced_s"]
            allowed = abs(m["trace_overhead_s"]) + SPAN_NOISE * m["op_untraced_s"]
            cover = m["spans_s"] / m["op_traced_s"]
            print(f"  spans {m['spans_s']:.3f} s ({cover:.1%} of the traced op {m['op_traced_s']:.3f} s), "
                  f"untraced op {m['op_untraced_s']:.3f} s, overhead {m['trace_overhead_s']:.3f} s")
            if not 0.9 <= cover <= 1.0:
                problems.append(f"{w}: spans cover {cover:.1%} of the traced op")
            if abs(gap) > allowed:
                problems.append(f"{w}: spans differ from the untraced op by {gap:.3f} s > {allowed:.3f} s")
        ma, mb = ({k: v["value"] for k, v in r["metrics"].items()} for r in (a, b))
        for k in COUNTS:
            if ma[k] != mb[k]:
                problems.append(f"{w}: {k} differs between same-seed runs: {ma[k]} vs {mb[k]}")
        for k in BYTES:
            if abs(ma[k] - mb[k]) > BYTES_TOLERANCE * max(ma[k], mb[k]):
                problems.append(f"{w}: {k} differs between same-seed runs: {ma[k]} vs {mb[k]}")
            elif ma[k] != mb[k]:
                print(f"  note: {k} {ma[k]:.0f} vs {mb[k]:.0f} bytes")
        print(f"{w}: compared {len(COUNTS)} counts and {len(BYTES)} byte totals")
    for line in problems:
        print("FAIL", line)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
