"""Run one benchmark workload for one seed and print its result line.

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (build.py),
then starts one JVM (perfbench.Main) that generates the seeded inputs, runs
the workload, checks the answers against the dataflow oracle and prints one
JSON line. `--trace 1` makes the traced run and reports per-layer metrics.
`--negative-control` perturbs one expected answer; the run must then fail.

The last stdout line is the JSON result. Exit code 0 means every answer
matched; 1 means a mismatch or a failed shape check; anything else means the
run could not complete (no result is printed then).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, next to this one)

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("serve-mixed", "ingest-batch")
RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative-control", action="store_true")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build.build()
    work = BENCH / ".work" / f"run-{os.getpid()}"
    out = BENCH / ".out"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = build.java(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--work", str(work), "--out", str(out),
                      "--stats", str(BENCH / "corpus-stats.json"), "--spec", str(ROOT / "BENCHMARK.json")]
                     + (["--negative-control"] if a.negative_control else []),
                     tmp, build.run_archive())
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print("perfbench: run timed out", file=sys.stderr)
            return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines or proc.returncode not in (0, 1):
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(f"perfbench: metric set differs from BENCHMARK.json: "
              f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
              f"units {sorted(k for k in want if k in got and got[k] != want[k])}", file=sys.stderr)
        return 5
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
