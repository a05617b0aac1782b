"""Repository benchmark: flagship commit, store ingest and detect API.

Run from the repository root:

    python3 perfbench/run.py --workload small --seed 1 --seconds 24 --trace 0

Builds the program and the benchmark from source (see build.py), then runs
one JVM that drives the three production surfaces on inputs made from the
seed, checks every output and prints one JSON result as the last stdout
line. `--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` the per-layer ones. The exit code is 0 only when every output
was correct. Host and JVM settings of each run (cores, heap, GC, Spark
confs, git sha or source digest) and the host's CPU steal during the run
go to stderr.

Extra flags for the self-test (selftest.py): `--tiny` shrinks every input,
`--corrupt keep|row|redaction` damages one output before it is checked.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded, must end within 180 s
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def cpu_times():
    """(steal, total) jiffies over all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", choices=["keep", "row", "redaction"])
    args = ap.parse_args()

    try:
        classpath, source_digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = build.BUILD_DIR / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sha = git_sha() or f"source-sha256:{source_digest[:16]}"
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(work)]
    if args.trace == "1":
        traces = build.BUILD_DIR / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        cmd += ["--trace-out", str(traces / f"{args.workload}-{args.seed}.jsonl")]
    if args.tiny:
        cmd.append("--tiny")
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    (work / "tmp").mkdir()
    env = dict(os.environ, PERFBENCH_GIT_SHA=sha, SPARK_LOCAL_DIRS=str(work / "spark"))

    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # CPU time the hypervisor gave to other guests: a sign of a noisy host
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        print(f"perfbench: host steal {steal:.1%} of CPU time during the run", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print(f"perfbench: no result (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
