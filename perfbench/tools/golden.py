#!/usr/bin/env python3
"""Regenerate perfbench/golden/digests.json, the suite's expected outputs.

    python3 perfbench/tools/golden.py

Dumps every SparkEntry query over perfbench/data/sf0.01 with graft.Verify,
requires tools/check_oracle.py (the DuckDB oracle compare) to pass on that
dump, then records each query's digest (row count plus two order-free hash
sums) with the same expression the suite's warm-up pass checks.
Regenerate only when a query's correct output changes on purpose.
"""
import os
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
import run  # noqa: E402


def main():
    data = ROOT / "perfbench" / "data" / "sf0.01"
    cp = run.build()
    (ROOT / ".bench_build").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
        dump = Path(d) / "verify"
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
        subprocess.run(["sbt", "--batch", f"runMain graft.Verify {data} {dump}"],
                       cwd=ROOT, env=env, check=True, stdin=subprocess.DEVNULL)
        subprocess.run([sys.executable, "tools/check_oracle.py", str(data), str(dump)],
                       cwd=ROOT, check=True)
        opens = [x for p in run.JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        subprocess.run(["java", *opens, *run.JVM_MEMORY, f"-Djava.io.tmpdir={d}", "-cp", cp,
                        "perfbench.Main", "digest", str(dump),
                        str(ROOT / "perfbench" / "golden" / "digests.json"), str(Path(d) / "work")],
                       cwd=d, check=True, stdin=subprocess.DEVNULL)


if __name__ == "__main__":
    main()
