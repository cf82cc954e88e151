#!/usr/bin/env python3
"""One run of one distbench workload, from the repository root:

    python3 distbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source if needed (distbench/build.py), runs one JVM
with Spark local[nproc] and one client thread, and prints a record line
(stamps, sample counts) followed, as the last line, by the result:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Exits non-zero when the
build or the run fails, or when any op fails its output check.
Everything the run writes stays under .bench_build/ and its work directory
is removed when the run ends.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dedup_batch", "agent_state")
# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
RUN_TIMEOUT_S = 170


def git_sha(root: pathlib.Path) -> str:
    if not (root / ".git").exists():
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() or "none"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    state = root / ".bench_build"
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = state / "work" / tag
    out = state / "work" / f"{tag}.result"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed heap, touched at start, so peak RSS is the heap plus the JVM's
    # native memory and does not depend on how far GC spread the heap;
    # no perf-data file in the system temp directory
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Xss16m", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dderby.system.home={work / 'tmp'}",
           "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "distbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work), "--out", str(out)]
    t0 = time.time()
    # the JVM's own output (logs, failed-check messages) goes to stderr so the
    # result stays the last line of stdout
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = -1
    finally:
        lines = out.read_text().splitlines() if out.exists() else []
        shutil.rmtree(work, ignore_errors=True)
        out.unlink(missing_ok=True)
    if rc != 0 or len(lines) != 2:
        print(f"run failed (exit {rc})", file=sys.stderr)
        return 1

    record = json.loads(lines[0])
    record.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=int(a.trace),
                  nproc=os.cpu_count(), git_sha=git_sha(root), build=classes.name,
                  wall_s=round(time.time() - t0, 3))
    with open(state / "results.jsonl", "a") as f:
        f.write(json.dumps({"record": record, "result": json.loads(lines[1])}) + "\n")
    print("record " + json.dumps(record))
    print(lines[1])
    return 0 if json.loads(lines[1])["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
