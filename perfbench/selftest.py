#!/usr/bin/env python3
"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py

1. The oracle comparison accepts an expectation equal to itself and
   rejects one with a single value changed, a row dropped, or a column
   renamed.
2. A short sync run whose JVM checks use a deliberately wrong
   expectation reports correct=false with every op failed.
Exits 0 when the gate fails where it must.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import oracle  # noqa: E402


def check_oracle_compare():
    exp = oracle.expectations(build.ensure(), build.SF)["q5_topk"]
    assert oracle.compare(exp, exp.copy()) == [], "identical frames must agree"
    num = next(c for c in exp.columns if exp[c].dtype.kind in "if")
    wrong = exp.copy()
    wrong.loc[0, num] = wrong.loc[0, num] + 1
    assert oracle.compare(exp, wrong), "a changed value must be rejected"
    assert oracle.compare(exp, exp.iloc[1:]), "a dropped row must be rejected"
    assert oracle.compare(exp, exp.rename(columns={num: num + "_x"})), \
        "a renamed column must be rejected"
    print("oracle compare: rejects wrong expectations")


def check_jvm_gate():
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "sync",
                        "--seed", "7", "--seconds", "1", "--trace", "0", "--wrong-expectation"],
                       capture_output=True, text=True, cwd=build.checkout())
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is False, res
    assert res["failed"] == res["attempted"] > 0, res
    print(f"JVM gate: {res['failed']}/{res['attempted']} ops failed on a wrong expectation")


if __name__ == "__main__":
    check_oracle_compare()
    check_jvm_gate()
    print("self-test passed")
