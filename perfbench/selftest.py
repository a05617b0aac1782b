"""Self-test of the benchmark.

Run from the repository root:  python3 perfbench/selftest.py

1. Every workload runs at tiny size, untraced and traced; each run must be
   correct and emit exactly the metrics BENCHMARK.json names, with their
   units.
2. Each correctness gate must fail on a deliberately corrupted output (a
   flipped keep decision, a dropped row, a wrong redaction): the run must
   report correct=false, exit non-zero, and name a failure from every
   surface whose output has that property.
3. In a directory holding only BENCHMARK.json and the benchmark's own
   files, the command must exit non-zero without printing a result.

Exits 0 when all checks pass.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TIMEOUT = 300


def run(args, cwd=ROOT):
    cmd = SPEC["command"] + args
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def main() -> int:
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    base = ["--seed", "1", "--seconds", "1", "--tiny"]
    for w in SPEC["workloads"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, result, err = run(["--workload", w["name"], "--trace", trace] + base)
            what = f"{w['name']} trace={trace}"
            expect(code == 0 and result is not None and result["correct"] is True
                   and result["failed"] == 0, f"{what}: correct, exit 0")
            if result is None:
                print(err[-2000:], file=sys.stderr)
                continue
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{what}: metric names and units match BENCHMARK.json"
                   + ("" if got == want else f" (missing {sorted(set(want) - set(got))},"
                      f" extra {sorted(set(got) - set(want))},"
                      f" units {[k for k in want if k in got and got[k] != want[k]]})"))

    w0 = SPEC["workloads"][0]["name"]
    # failure lines on stderr start with the operation: flagship commits,
    # store ingests and API routes
    gates = {"keep": ("flagship", "store-"),
             "row": ("flagship", "store-", "/detect"),
             "redaction": ("flagship", "/detect")}
    for mode, surfaces in gates.items():
        code, result, err = run(["--workload", w0, "--trace", "0", "--corrupt", mode] + base)
        expect(code != 0 and result is not None and result["correct"] is False
               and result["failed"] >= 1, f"corrupt={mode}: gate fails, exit non-zero")
        for s in surfaces:
            expect(f"FAILED {s}" in err, f"corrupt={mode}: the {s.strip('-/')} gate fails")

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _ = run(["--workload", w0, "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    expect(code != 0 and result is None, "bare directory: exit non-zero, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
