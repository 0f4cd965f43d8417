#!/usr/bin/env python3
"""Smoke test of the benchmark.

    python3 perfbench/smoke.py

Runs every workload once at sf0.001 with a one-second budget, untraced and
traced, and asserts that each run checks its outputs and prints every metric
BENCHMARK.json declares for that mode, with its unit. Then runs query_mix
against an expectations file with one wrong checksum and asserts that the
run fails. Exits 0 when every assertion holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.001"
SEED = 1


def run(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            problems.append(what)

    for w in [x["name"] for x in bench["workloads"]]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p, res = run(w, trace)
            tag = f"{w} trace={trace}"
            expect(p.returncode == 0, f"{tag}: exit code {p.returncode}")
            if res is None:
                expect(False, f"{tag}: no result line; stderr tail: {p.stderr[-500:]}")
                continue
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"], f"{tag}: result keys")
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{tag}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
            got = res["metrics"]
            missing = [m["name"] for m in declared if m["name"] not in got]
            expect(not missing, f"{tag}: every declared metric printed (missing {missing})")
            wrong_unit = [m["name"] for m in declared
                          if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
            expect(not wrong_unit, f"{tag}: units match BENCHMARK.json (wrong {wrong_unit})")
            extra = sorted(set(got) - {m["name"] for m in declared})
            expect(not extra, f"{tag}: no undeclared metrics (extra {extra})")

    # One wrong checksum for a query in the part seed 1 runs must fail it.
    with open(os.path.join(HERE, "expected.json")) as f:
        exp = json.load(f)
    parts = {k.rsplit("/", 1)[1]: int(v) for k, v in exp.items()
             if k.startswith(f"sf{SCALE}/query_part/")}
    part = SEED % (max(parts.values()) + 1)
    name = sorted(n for n, p in parts.items() if p == part)[0]
    exp[f"sf{SCALE}/query/{name}"] = "0:0:0"
    bad = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                       "perfbench", "smoke-wrong-expected.json")
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    with open(bad, "w") as f:
        json.dump(exp, f, indent=1)
    p, res = run("query_mix", 0, expected=bad)
    expect(p.returncode != 0 and (res is None or res["correct"] is False),
           f"query_mix with a wrong checksum for {name} fails (exit {p.returncode})")
    os.remove(bad)

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
