#!/usr/bin/env python3
"""graft ELT benchmark.

    python3 perfbench/run.py --workload sync|query_mix \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark package on first use (see
build.py), runs one workload in a fresh JVM on local[nproc] under a
per-run directory inside the checkout, checks query results against the
DuckDB oracle, and prints two lines: the run's provenance and extra
figures, then the result object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The per-run directory is deleted on exit and on failure.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("sync", "query_mix")
WARM_SF = build.SF.parent / "sf0.001"
JVM_TIMEOUT_S = 170


def git_commit(root: Path) -> str:
    try:
        return subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cmd, log: Path):
    """Runs the benchmark JVM, killing it if this process is stopped."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: the JVM's checks use deliberately wrong expectations
    ap.add_argument("--wrong-expectation", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()

    root = build.checkout()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    out = build.ensure()
    cores = len(os.sched_getaffinity(0))

    runs = root / ".bench_run"
    runs.mkdir(exist_ok=True)
    run_root = Path(tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs))
    try:
        (run_root / "tmp").mkdir()
        result = run_root / "result.json"
        log = run_root / "jvm.log"
        cmd = build.java(f"-Djava.io.tmpdir={run_root / 'tmp'}", "-cp", build.classpath(out),
                         "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--cores", str(cores), "--root", str(run_root), "--sf", str(build.SF),
                         "--warm-sf", str(WARM_SF), "--out", str(result),
                         "--wrong-expectation", "1" if a.wrong_expectation else "0")
        rc = run_jvm(cmd, log)
        if rc != 0 or not result.exists():
            sys.stderr.write(log.read_text()[-6000:])
            sys.stderr.write(f"\nperfbench: benchmark JVM {'timed out' if rc is None else f'exited {rc}'}\n")
            return 1
        res = json.loads(result.read_text())
        attempted, failed = res["attempted"], res["failed"]
        mismatches = {}
        if "queries" in res:
            import oracle
            for q, bad in oracle.check_dumps(out, build.SF, run_root / "results").items():
                if bad:
                    mismatches[q] = bad
                    ops = res["queries"][q]
                    failed += ops["ops"] - ops["failed"]
            missing = [q for q in res["queries"] if not (run_root / "results" / q).is_dir()]
            for q in missing:
                ops = res["queries"][q]
                failed += ops["ops"] - ops["failed"]
                mismatches[q] = ["no result dumped"]
        for f in res["failures"]:
            sys.stderr.write(f"perfbench: FAILED {f}\n")
        for q, bad in mismatches.items():
            sys.stderr.write(f"perfbench: FAILED {q} vs oracle: {'; '.join(bad)}\n")
        metrics = {}
        for m in wanted:
            v = res["metrics"].get(m["name"])
            if v is None:
                sys.stderr.write(f"perfbench: metric {m['name']} missing\n")
                return 1
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        info = dict(res["info"], git_commit=git_commit(root), source_digest=build.digest()[:16],
                    **res["extra"])
        info["error_rate"] = failed / attempted
        print(json.dumps({"info": info}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
