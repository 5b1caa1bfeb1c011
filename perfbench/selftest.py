#!/usr/bin/env python3
"""Self-tests of the benchmark (not of the engine):

    python3 perfbench/selftest.py

- the JVM side (perfbench/src/perfbench/SelfTest.scala): seeded inputs are
  byte-identical per seed, percentile / self-time / commit-lag arithmetic
  on hand-built inputs, and a forced query failure counts as failed and
  gives no timing sample;
- the oracle compare rejects a result that differs from its oracle.
Exits non-zero on any failure.
"""
import shutil
import sys

import pandas as pd

import run

ok = True


def expect(what, cond):
    global ok
    print(("ok   " if cond else "FAIL ") + what)
    ok &= bool(cond)


a = pd.DataFrame({"b": [1, 2], "a": ["x", "y"]})
expect("oracle compare accepts equal frames in any column order",
       run.frames_match(a, a[["a", "b"]]) is None)
expect("oracle compare rejects a changed value",
       run.frames_match(a, pd.DataFrame({"a": ["x", "y"], "b": [1, 3]})) is not None)
expect("oracle compare rejects a missing row",
       run.frames_match(a, a.head(1)) is not None)
expect("oracle compare rejects a reordered result",
       run.frames_match(a, a.iloc[::-1].reset_index(drop=True)) is not None)

expect("failures count once per operation",
       run.failed_ops(["q_x j0: differs", "q_x j0 threw IllegalStateException: boom",
                       "ingest c1: raw counts"]) == {"q_x j0", "ingest c1"})

cp = run.build.ensure()
work = run.ROOT / ".bench_work" / "selftest"
shutil.rmtree(work, ignore_errors=True)
work.mkdir(parents=True)
try:
    code = run.build.jvm(cp, work, ["selftest"], timeout=170)
    for line in (work / "jvm.log").read_text(errors="replace").splitlines():
        if line.startswith(("ok", "FAIL", "selftest")):
            print(line)
    expect("JVM self-tests", code == 0)
finally:
    shutil.rmtree(work, ignore_errors=True)
sys.exit(0 if ok else 1)
