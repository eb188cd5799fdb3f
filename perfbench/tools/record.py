#!/usr/bin/env python3
"""Write the committed record of one workload's traced run.

    python3 perfbench/tools/record.py --workload suite-cold --seed 1 [--out FILE]

Runs BENCHMARK.json's command three times with one seed: untraced, then
traced twice. The record (default perfbench/traces/<workload>.json) holds
the first traced run's full output (per-layer metrics, spans, per-query
rows), the tracing overhead (traced end-to-end numbers against the
untraced ones), and the traced counts that did not repeat exactly between
the two traced runs, by name.
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
# per-layer counts that a single client with no timers should repeat exactly,
# besides every *_bytes, *_rows and *.jobs metric
COUNTS = ("scheduling.stages", "scheduling.tasks", "SparkEntry.build_jobs",
          "graft.core.Snapshot.manifest_files", "graft.core.Snapshot.versions",
          "graft.profile.Profile.summarize_jobs")


def run(spec, workload, seed, trace):
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
        rec = Path(d) / "record.json"
        cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", trace,
                                 "--trace-out", str(rec)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"{workload} trace={trace}: exit {p.returncode}")
        return json.loads(rec.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    (ROOT / ".bench_build").mkdir(exist_ok=True)
    plain = run(spec, a.workload, a.seed, "0")
    first = run(spec, a.workload, a.seed, "1")
    second = run(spec, a.workload, a.seed, "1")
    overhead = {}
    for k, v in plain["end_to_end"].items():
        t = first["end_to_end"][k]["value"]
        overhead[k] = {"untraced": v["value"], "traced": t,
                       "traced_over_untraced": t / v["value"] - 1 if v["value"] else None}
    names = [k for k in first["per_layer"]
             if k in COUNTS or k.endswith(".jobs") or k.endswith("_bytes") or k.endswith("_rows")]
    differ = {k: [first["per_layer"][k], second["per_layer"].get(k)]
              for k in sorted(names) if first["per_layer"][k] != second["per_layer"].get(k)}
    first["tracing_overhead"] = overhead
    first["counts_not_repeating"] = differ
    first["counts_checked"] = sorted(names)
    out = Path(a.out) if a.out else ROOT / "perfbench" / "traces" / f"{a.workload}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(first, indent=1) + "\n")
    print(f"{a.workload}: overhead " +
          ", ".join(f"{k} {o['traced_over_untraced']:+.1%}" for k, o in overhead.items()
                    if o["traced_over_untraced"] is not None))
    print(f"{a.workload}: counts not repeating: {sorted(differ) or 'none'}")


if __name__ == "__main__":
    main()
