#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.002 star tables, a
300-cluster files corpus), seed 0:

* every workload of BENCHMARK.json runs untraced and traced, exits 0
  with ``correct: true``, and prints
  exactly the end-to-end (untraced) or per-layer (traced) metrics
  BENCHMARK.json names, each with its unit;
* a tampered pinned digest makes the command fail.

    python3 perfbench/selftest.py           # check
    python3 perfbench/selftest.py --repin   # rewrite the tiny pins

Run from the repository root; takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
SEED = 0


def _run(workload: str, trace: int, expected: str = EXPECTED):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--size", "tiny", "--expected", expected]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    report = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("perfbench-report ")), None)
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode not in (0, 1) or result is None:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, report, result


def _fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}

    if "--repin" in sys.argv:
        pins = {}
        for w in names:
            code, report, _ = _run(w, 0, expected="")
            if code != 0:
                _fail(f"{w}: exit {code} while repinning")
            pins[f"tiny/{SEED}/{w}"] = report["digests"]
        with open(EXPECTED, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {EXPECTED}")
        return

    for w in names:
        for trace in (0, 1):
            code, report, result = _run(w, trace)
            if code != 0 or not result or not result["correct"]:
                _fail(f"{w} trace={trace}: exit {code}, "
                      f"failures {report and report['failures']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                _fail(f"{w} trace={trace}: metrics/units {got} != {want[trace]}")
            if not all(isinstance(v["value"], (int, float))
                       for v in result["metrics"].values()):
                _fail(f"{w} trace={trace}: non-numeric metric value")
            print(f"ok {w} trace={trace}")

    with open(EXPECTED) as fh:
        pins = json.load(fh)
    key = f"tiny/{SEED}/{names[0]}"
    digest = sorted(pins[key])[0]
    pins[key][digest] = "0" * 64
    tampered = os.path.join(HERE, "_work", "tampered.json")
    with open(tampered, "w") as fh:
        json.dump(pins, fh)
    code, _, result = _run(names[0], 0, expected=tampered)
    if code == 0 or result["correct"]:
        _fail(f"tampered {digest} for {names[0]} did not fail the run")
    print(f"ok tampered {digest} fails the run (exit {code})")


if __name__ == "__main__":
    main()
