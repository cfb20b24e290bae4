"""The benchmark's own self-tests. Run from the repository root:

    python3 perfbench/selftest.py [WORKLOAD ...]

1. The input generator writes the same bytes for the same seed.
2. Every metric a run prints is declared in BENCHMARK.json, and a run prints
   all of them (end-to-end untraced, per-layer traced), with no failures.
3. Count metrics (``*.jobs``, ``*.tasks``, ``streaming.windows.batches``)
   repeat exactly across two traced runs of one seed.

Exits non-zero on the first failed test.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.getcwd(), HERE]

import gen  # noqa: E402

SEED = 7
SECONDS = "5"


def _fail(msg: str) -> None:
    print(f"FAIL: {msg}")
    sys.exit(1)


def test_generator_deterministic(workload: str) -> None:
    scratch = os.path.join(".perfbench_work", f"selftest-{os.getpid()}")
    digests = []
    try:
        for i in range(2):
            out = os.path.join(scratch, str(i))
            os.makedirs(out)
            gen.GENERATORS[workload](out, SEED)
            digests.append(gen._file_digests(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if digests[0] != digests[1] or not digests[0]:
        _fail(f"{workload}: generator output differs between two runs of seed {SEED}")
    print(f"ok  {workload}: generator deterministic ({len(digests[0])} files)")


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", SECONDS, "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        _fail(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def test_runs(workload: str, bench: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    traced = [_run(workload, 1) for _ in range(2)]
    for res, declared in [(_run(workload, 0), e2e)] + [(t, layer) for t in traced]:
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != declared:
            extra = sorted(set(got) - set(declared))
            missing = sorted(set(declared) - set(got))
            _fail(f"{workload}: printed metrics differ from BENCHMARK.json "
                  f"(undeclared {extra}, missing {missing}, or units differ)")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            _fail(f"{workload}: run reported failures: {res['failed']}/{res['attempted']}")
    print(f"ok  {workload}: metric names and units match BENCHMARK.json, no failures")
    counts = [
        n for n in layer
        if n.endswith((".jobs", ".tasks")) or n == "streaming.windows.batches"
    ]
    a, b = (t["metrics"] for t in traced)
    differ = {n: (a[n]["value"], b[n]["value"]) for n in counts if a[n]["value"] != b[n]["value"]}
    if differ:
        _fail(f"{workload}: count metrics differ between two traced runs: {differ}")
    print(f"ok  {workload}: {len(counts)} count metrics repeat exactly")


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        test_generator_deterministic(w)
    for w in workloads:
        test_runs(w, bench)
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
