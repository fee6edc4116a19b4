#!/usr/bin/env python3
"""Smoke test of the benchmark, on minimal inputs.

    python3 perfbench/smoke.py

For every workload: an untraced and a traced run must be correct and
emit exactly the end-to-end and per-layer metrics BENCHMARK.json names.
Then each gate must reject a tampered result: one row deleted from the
loaded Postgres table (etl_bulk) and one oracle cell changed
(read_side). Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, tamper=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
    if tamper:
        cmd.append("--tamper")
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stderr.decode(errors="replace")[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {r.returncode}")
    return json.loads(r.stdout.decode().strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {0: {m["name"] for m in bench["end_to_end"]},
             1: {m["name"] for m in bench["per_layer"]}}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            res = run(w, trace)
            got = set(res["metrics"])
            if got != names[trace]:
                raise SystemExit(f"FAIL {w} trace={trace}: missing {sorted(names[trace] - got)}, "
                                 f"extra {sorted(got - names[trace])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"FAIL {w} trace={trace}: not correct: {res}")
            print(f"ok {w} trace={trace}: {len(got)} metrics, {res['attempted']} checks")
    for w in ("etl_bulk", "read_side"):
        res = run(w, 0, tamper=True)
        if res["correct"] or not res["failed"]:
            raise SystemExit(f"FAIL {w}: the gate accepted a tampered result")
        print(f"ok {w}: tampered result rejected ({res['failed']} failed)")
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
