#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on ~50-conversation corpora.

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json once untraced and once traced
with ``--tiny``, and fails unless each run exits 0 with a correct result
line that carries every metric BENCHMARK.json names, with its unit.  It
also checks that the benchmark refuses to run, without printing a
result, in a directory that holds only BENCHMARK.json and the benchmark.
Takes a few minutes; no figure it prints is a measurement.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cmd: list[str], cwd: str) -> tuple[int, str]:
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    return proc.returncode, proc.stdout


def check_result(stdout: str, wanted: list[dict]) -> list[str]:
    lines = stdout.strip().splitlines()
    if not lines:
        return ["no output"]
    res = json.loads(lines[-1])
    errors = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True:
        errors.append("correct is not true")
    if not (isinstance(res.get("attempted"), int) and res["attempted"] >= 1):
        errors.append(f"attempted {res.get('attempted')}")
    got = res.get("metrics", {})
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            errors.append(f"missing metric {m['name']}")
        elif v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"metric {m['name']}: {v}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"unlisted metrics {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []
    for w in bench["workloads"]:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "1",
                                      "--seconds", "1", "--trace", str(trace), "--tiny"]
            rc, out = run(cmd, ROOT)
            errors = [f"exit {rc}"] if rc else check_result(out, wanted)
            print(f"{w['name']} trace={trace}: {'ok' if not errors else errors}", flush=True)
            failures += errors

    bare = os.path.join(ROOT, ".perfbench-work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    w = bench["workloads"][0]["name"]
    rc, out = run(bench["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                      "--trace", "0"], bare)
    ok = rc != 0 and '"metrics"' not in out
    print(f"without the program: exit {rc}: {'ok' if ok else 'printed a result or exited 0'}")
    if not ok:
        failures.append("ran without the program")
    shutil.rmtree(bare)
    print("selfcheck:", "PASS" if not failures else f"FAIL {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
