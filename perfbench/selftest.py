#!/usr/bin/env python3
"""The benchmark's own test: failures are loud.

Runs `profile` once clean, which must pass and which stores the seed's
reference fingerprints if none are stored yet. Then runs it with three
deliberate faults: a call that throws, a call whose output disagrees with
its DuckDB oracle, and an altered output of `stats.describe`, a call
without an oracle that only the stored fingerprints can catch. Checks that
exactly these calls count as failed and that the run is reported incorrect.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(inject):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "profile", "--seed", "11", "--seconds", "1", "--trace", "0"]
        + (["--inject", inject] if inject else []),
        capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    return out, json.loads(out.stdout.strip().splitlines()[-1])


def main():
    _, clean = run("")
    out, result = run("throw,wrong,drift")
    failed = [l for l in out.stderr.splitlines() if "FAILED pass" in l]
    measured = [l for l in failed if not l.split("FAILED pass ")[1]
                .startswith("0 ")]
    names = {l.split()[4].rstrip(":") for l in measured}
    passes = int(next(l.split()[2] for l in out.stdout.splitlines()
                      if l.startswith("metric passes_measured ")))
    checks = {
        "the clean run passes": clean["correct"] and clean["failed"] == 0,
        "run is reported incorrect": result["correct"] is False,
        "the injected calls fail": names == {"stats.injected.throw",
                                             "frame.injected.wrong",
                                             "stats.describe"},
        "only injected calls fail": result["failed"] == 3 * passes,
        "the throw is reported": any("injected failure" in l
                                     for l in measured),
        "the wrong output is caught by its oracle": any(
            "injected.wrong" in l and "mismatch" in l for l in measured),
        "the altered output is caught by the stored fingerprint": any(
            "stats.describe" in l and "earlier run" in l for l in measured),
    }
    for what, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
