#!/usr/bin/env python3
"""Benchmark of the nightly ETL and the SQL warehouse.

Run from the repository root:

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Each run builds the program and the harness from source when they changed
(see build.py), starts one JVM for the workload, prints every metric with
its unit and sample count, and prints as its last line one JSON object
with the metrics BENCHMARK.json lists: the end-to-end ones with
--trace 0, the per-layer ones with --trace 1.
"""
import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".out"
WORKLOADS = ("etl_nightly", "warehouse_sql")
# a run at BENCHMARK.json's run length must finish within 180 s; a longer
# run, made by hand, may take more
JVM_TIMEOUT_S = 170
LONG_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def print_table(res):
    print(f"{res['workload']}  seed={res['seed']}  trace={res['trace']}  "
          f"attempted={res['attempted']}  failed={res['failed']}")
    for name, m in res["metrics"].items():
        tail = f"  (p{m['percentile']})" if "percentile" in m else ""
        print(f"  {name:<14} {m['value']:>14.6g} {m['unit']:<6} n={m['n']}{tail}")
    for name, v in res["layers"].items():
        print(f"  {name:<28} {v:>14.6g}")
    for e in res["errors"]:
        print(f"  error: {e}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own checks")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala").is_dir() or not spec_file.is_file():
        fail(f"no program sources under {ROOT}; run from the repository root")
    spec = json.loads(spec_file.read_text())
    OUT.mkdir(exist_ok=True)
    build.ensure_built()
    logs = OUT / "logs"
    logs.mkdir(exist_ok=True)

    if a.self_test:
        rc = build.jvm(["selftest"], OUT / "work-selftest", logs / "selftest.log", JVM_TIMEOUT_S)
        for line in (logs / "selftest.log").read_text().splitlines():
            if line.startswith(("ok ", "FAIL ")) or line.endswith(" failed"):
                print(line)
        sys.exit(0 if rc == 0 else 1)
    if not a.workload:
        ap.error("--workload is required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    reports = OUT / "reports"
    reports.mkdir(exist_ok=True)
    out = reports / f"{tag}.json"
    if out.exists():
        out.unlink()
    rc = build.jvm(["run", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--out", str(out)],
             OUT / f"work-{a.workload}", logs / f"{tag}.log",
             JVM_TIMEOUT_S if a.seconds <= spec["run_seconds"] else LONG_TIMEOUT_S)
    if rc != 0 or not out.exists():
        fail(f"{a.workload} run failed (exit {rc}); see {logs / (tag + '.log')}")
    res = json.loads(out.read_text())
    print_table(res)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = ({k: v["value"] for k, v in res["metrics"].items()} if not a.trace
              else res["layers"])
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"{a.workload} reported no value for {', '.join(missing)}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
