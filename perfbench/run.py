#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <crawl-rank|crawl-refresh|corpus-dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the driver from source
(see build.py), then runs one workload in one JVM: a single driver thread
issuing graft calls back to back on a local[k] session, k = min(4, cores).
Everything it writes stays under .bench_build/. The last stdout line is
the result JSON; the exit code is non-zero when the build, any operator
call or any output check failed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl-rank", "crawl-refresh", "corpus-dedup")
# A run must end well inside three minutes once the build exists.
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.ensure(root)
    work = os.path.join(root, build.OUT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(root, build.OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--dir", work,
            "--cores", str(cores)]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: no result within {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        sys.exit(f"run: benchmark JVM exited with {proc.returncode} and no result")
    sys.stdout.write(out)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
