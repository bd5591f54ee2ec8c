"""The benchmark's command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source when needed (see build.py), then runs one
JVM with the benchmark main at local[nproc]. The JVM prints each pass,
every metric with its unit, and, as the last line, the JSON result;
Spark's own log goes to a file under .bench_work. Test-only options:
--size tiny (small inputs, one set-up, no warm-up passes) and
--inject-fail <pass> (fail that pass's check).
"""

import argparse
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("wrf_voronoi", "regrid_overlay")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the module options
# spark-submit would inject).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit(root: Path) -> str:
    if not (root / ".git").exists():
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--inject-fail", type=int)
    a = ap.parse_args()

    root = build.ROOT
    classes = build.build()
    work = root / ".bench_work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    # a fixed-size heap with the parallel collector: young generation
    # sizing does not adapt run to run, so peak RSS tracks the program's
    # retained data rather than the collector's heuristics
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dperfbench.commit={commit(root)}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size,
            "--work", str(work)]
    if a.inject_fail is not None:
        cmd += ["--inject-fail", str(a.inject_fail)]

    log = work / f"{a.workload}-s{a.seed}-t{a.trace}.log"
    timed_out = threading.Event()

    def kill(proc: subprocess.Popen) -> None:
        timed_out.set()
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)

    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, kill, args=(proc,))
        timer.start()
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                kill(proc)
                proc.wait()
    if timed_out.is_set():
        print(f"perfbench: JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    if proc.returncode != 0:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        print(f"perfbench: JVM exited with {proc.returncode}; log {log}", file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
