#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark first when their sources changed
(perfbench/build.py), then runs perfbench.Main in one JVM. Standard output
ends with the run context and, as its last line, the result JSON
(`correct`, `attempted`, `failed`, `metrics`). Spark's log goes to
<build dir>/logs. Exits non-zero, printing no result, when the program
cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("incremental_windows", "operator_battery")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# The JDK 17 module opens that spark-submit adds.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out_dir = build.build_dir()
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    try:
        with open(os.path.join(logs, "build.log"), "a") as log:
            classpath = build.build(out_dir, log)
    except (OSError, subprocess.CalledProcessError) as e:
        sys.stderr.write(f"perfbench: build failed: {e} (see {logs}/build.log)\n")
        return 2

    work = os.path.join(out_dir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work,
              "--data", os.path.join(build.HERE, "data", "sf0.01"),
              "--rows", os.path.join(build.HERE, "operator_rows.json")])
    with open(os.path.join(logs, tag + ".log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S} s\n")
            return 3
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(f"perfbench: no result (exit {proc.returncode}); "
                         f"see {logs}/{tag}.log\n")
        return 4
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
