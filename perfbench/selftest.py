#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

For each workload: one untraced operation must pass its output checks
and print every end-to-end metric named in BENCHMARK.json with its unit;
one traced operation must print every per-layer metric; a run whose
output is corrupted (one routed partition deleted before the check)
must report ``correct: false`` and exit nonzero. Finally the benchmark
must exit nonzero, without a result line, from a directory holding
only BENCHMARK.json and the benchmark's own files. Exits nonzero on
the first failed expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BARE = os.path.join(ROOT, ".perfbench-selftest")


def run(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "0", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout + p.stderr


def expect(cond: bool, what: str, log: str = "") -> None:
    if not cond:
        print(f"SELFTEST FAILED: {what}\n{log[-4000:]}", file=sys.stderr)
        sys.exit(1)
    print(f"ok: {what}", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, names in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            rc, res, log = run(ROOT, "--workload", wl, "--scale", "tiny", "--trace", trace)
            expect(rc == 0 and res is not None and res["correct"], f"{wl} trace={trace} passes its checks", log)
            expect(res["attempted"] >= 1 and res["failed"] == 0, f"{wl} trace={trace} ran an operation", log)
            got = res["metrics"]
            for m in names:
                ok = m["name"] in got and got[m["name"]]["unit"] == m["unit"]
                expect(ok, f"{wl} trace={trace} reports {m['name']} in {m['unit']}", log)
                expect(f"{m['name']:42s}" in log, f"{wl} trace={trace} prints {m['name']}", log)
        rc, res, log = run(ROOT, "--workload", wl, "--scale", "tiny", "--corrupt")
        expect(rc != 0 and res is not None and not res["correct"], f"{wl} detects a deleted routed partition", log)

    shutil.rmtree(BARE, ignore_errors=True)
    os.makedirs(BARE)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), BARE)
    for path in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            os.path.join(BARE, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    try:
        rc, res, log = run(BARE, "--workload", bench["workloads"][0]["name"])
        expect(rc != 0 and res is None, "exits nonzero without a result outside a source checkout", log)
    finally:
        shutil.rmtree(BARE, ignore_errors=True)


if __name__ == "__main__":
    main()
