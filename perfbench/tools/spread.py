#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: run one workload once per
seed, then report per metric the median and the distance between the
first and third quartile as a share of the median, beside the metric's
bound from BENCHMARK.json.

    python3 perfbench/tools/spread.py --workload suite-cold --seeds 1-10 [--out FILE]

Each run is `BENCHMARK.json`'s command with --trace 0; raw results go to
FILE (default .bench_build/spread-<workload>.json).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range lo-hi or a comma-separated list")
    ap.add_argument("--out")
    a = ap.parse_args()
    if "," in a.seeds:
        seeds = [int(x) for x in a.seeds.split(",")]
    else:
        lo, hi = (int(x) for x in a.seeds.split("-"))
        seeds = range(lo, hi + 1)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = Path(a.out) if a.out else ROOT / ".bench_build" / f"spread-{a.workload}.json"
    runs = []
    for seed in seeds:
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} wall={wall:.1f}s {vals}",
              flush=True)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(runs, indent=1))
    for m in spec["end_to_end"]:
        vs = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med
        flag = "ok" if spread < m["bound"] / 3 else ("WIDE" if spread > m["bound"] else "near")
        print(f"{m['name']:18s} median {med:12.4f} spread {spread:7.3f} bound {m['bound']} {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
