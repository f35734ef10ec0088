#!/usr/bin/env python3
"""Runs one benchmark workload and prints one JSON result as the last line.

    python3 perfbench/run.py --workload serve-small --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (build.py), then
runs graftbench.Main in a fresh JVM against Spark local[n], n being the
number of cores the process may use (pin it with taskset to use fewer).
Every file the run writes (warehouse, Spark local dirs, job outputs) lives
in a temporary directory under the build dir that is deleted on exit. The line
before the result is the full report: per-op medians with their supported
percentile and sample count, the workload throughput figures, the output
checks and the environment.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve-small", "mr-batch")
DEADLINE_S = 170  # for the JVM run; a first-use build comes on top
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these module openings.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def git_commit(root):
    """HEAD's sha read from .git without running git, or 'unknown'."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        p = os.path.join(root, ".git", ref)
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classes, jars = build.ensure()
    tmp_root = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    trace_out = os.path.join(build.build_dir(), "trace-%s.jsonl" % a.workload)
    log_path = os.path.join(build.build_dir(), "last-%s.log" % a.workload)
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + work,
            "-Dspark.ui.enabled=false"]
           + [x for o in OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", work, "--cores", str(cores()),
              "--commit", git_commit(build.ROOT)]
           + (["--trace-out", trace_out] if a.trace else []))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    start_new_session=True, text=True)
            out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded its deadline; log: " + log_path, file=sys.stderr)
        return 3
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = dict(l.split(" ", 1) for l in out.splitlines()
                 if l.startswith(("REPORT ", "RESULT ")))
    if proc.returncode != 0 or "RESULT" not in lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print("perfbench: JVM exited %d; log: %s" % (proc.returncode, log_path),
              file=sys.stderr)
        return 4
    print(json.dumps(json.loads(lines["REPORT"]), separators=(",", ":")))
    print(json.dumps(json.loads(lines["RESULT"]), separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
