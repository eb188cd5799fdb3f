#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --stream-rate R --workload W --seed N --seconds S --trace 0|1
        [--trace-out FILE] [--queries sample|all]

Run from the root of a source checkout. Builds graft and the harness from
source with sbt (once per source state; the build lands in .bench_build/),
then runs one workload in a fresh JVM on local[<cores>] and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (a
separate run with Spark listeners attached). --trace-out also writes the
run's full record (spans, per-query rows, extra figures) to FILE.
--queries all runs suite-cold over every query instead of its sample (a
correctness sweep of all golden digests; it takes minutes).
Exits non-zero without printing a result when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ARCHIVE = BUILD / "classes.jsa"
WORKLOADS = ("suite-cold", "ingest-snapshot", "delayed-join-stream")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# The JVM's default collector and heap layout; only the heap ceiling is
# fixed, so the heap cannot grow with the host's memory size.
JVM_MEMORY = ["-Xmx3g"]
# JVM warnings go to standard error, so standard output holds only the result
JVM_LOG = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: rebuild when any of them changes."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on exit or timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout}s")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out, err


def java_cmd(cp, work, *flags):
    return (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            JVM_MEMORY + JVM_LOG + list(flags) +
            [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false", "-cp", cp])


def new_work(name):
    work = ROOT / ".bench_build" / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def write_archive(cp):
    """Run `perfbench.Main prime` once with -XX:ArchiveClassesAtExit: the
    class-data archive it leaves lets every benchmark JVM map the classes
    of Spark and graft instead of loading them from jars (about 10 s less
    JVM and session start on a 4-core host)."""
    ARCHIVE.unlink(missing_ok=True)
    work = new_work("prime")
    try:
        rc, out, err = run_group(
            java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
            ["perfbench.Main", "prime", "--root", str(ROOT), "--work", str(work)],
            JVM_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not ARCHIVE.exists():
        sys.stderr.write(out[-2000:] + err[-4000:])
        fail(f"class-data archive run exited {rc}")
    sys.stderr.write("".join(l + "\n" for l in err.splitlines() if l.startswith("[perfbench]")))


def build():
    """Compile graft and the harness into jars and write the class-data
    archive; return the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and ARCHIVE.exists() and stamp.read_text() == want:
        cp = cp_file.read_text().strip()
        jars = cp.split(os.pathsep)
        if all(os.path.exists(j) for j in jars):
            # the JVM ignores an archive older than a jar it was made from
            if any(os.path.getmtime(j) > ARCHIVE.stat().st_mtime for j in jars):
                write_archive(cp)
            return cp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    rc, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"sbt build failed (exit {rc})")
    cps = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    stamp.unlink(missing_ok=True)
    cp_file.write_text(cps[-1])
    write_archive(cps[-1])
    stamp.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cps[-1]


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    spec_file = ROOT / "BENCHMARK.json"
    if spec_file.exists():
        spec = json.loads(spec_file.read_text())
        want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        if set(res["metrics"]) != want:
            raise ValueError(f"metrics {sorted(set(res['metrics']) ^ want)} differ from BENCHMARK.json")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--stream-rate", type=float, required=True)
    ap.add_argument("--trace-out")
    ap.add_argument("--queries", choices=("sample", "all"), default="sample",
                    help="suite-cold: the timed sample (default) or all queries")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}: run from a full source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()

    work = new_work(a.workload)
    cmd = (java_cmd(cp, work, f"-XX:SharedArchiveFile={ARCHIVE}") + ["perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--stream-rate", str(a.stream_rate),
            "--root", str(ROOT), "--work", str(work)])
    if a.trace_out:
        cmd += ["--trace-out", str(Path(a.trace_out).resolve())]
    cmd += ["--queries", a.queries]
    try:
        rc, out, _ = run_group(cmd, JVM_TIMEOUT_S if a.queries == "sample" else 1800,
                               cwd=work, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited {rc}")
    try:
        res = check_result(lines[-1], a.trace == "1")
    except ValueError as e:
        fail(f"bad result line: {e}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
