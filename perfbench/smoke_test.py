#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes (a few minutes).

Usage, from the root of a checkout: python3 perfbench/smoke_test.py

Checks, for each workload, that a run prints every metric BENCHMARK.json
names, with its unit, in the result shape the benchmark promises; and that
the correctness gate trips (exit 1, correct false, failed > 0) when the
expected answer is deliberately wrong, with a failure from every gate:
the oracle comparison for crawl; the DuckDB comparison and the pinned
digest for queries.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    session = json.loads(lines[-2]) if len(lines) > 1 else {"session": {}, "failures": []}
    return p.returncode, result, p.stderr, session


def gates(name, session):
    """Each gate of the workload, with a test for a failure it reports."""
    if name == "crawl":
        # --break-check removes one URL from the oracle's seen set
        return {"sequential oracle": lambda f: "seen set" in f and "sequential oracle" in f}
    info = session["session"]
    # check.py reports a query's failure as "<query>: <what differs>"
    return {gate: lambda f, qs=set(info.get(key, [])): f.split(":")[0] in qs
            for gate, key in (("DuckDB", "sql_checked"), ("pinned digest", "digest_checked"))}


def main():
    problems = []
    for w in SPEC["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err, _ = run(name, trace)
            tag = f"{name} trace={trace}"
            if code != 0 or res is None:
                problems.append(f"{tag}: exit {code}: {err.strip()[-400:]}")
                continue
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = res["metrics"]
            if sorted(got) != sorted(want):
                problems.append(f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            for m, unit in want.items():
                v = got.get(m, {})
                if v.get("unit") != unit or not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: {m} = {v}, expected a number in {unit}")
            print(f"ok   {tag}: {len(got)} metrics", flush=True)
        code, res, _, session = run(name, 0, "--break-check")
        if code != 1 or res is None or res["correct"] is not False or res["failed"] < 1:
            problems.append(f"{name}: the gate did not trip on a wrong expected answer "
                            f"(exit {code}, result {res})")
            continue
        for gate, reports in gates(name, session).items():
            if not any(reports(f) for f in session["failures"]):
                problems.append(f"{name}: the {gate} gate did not trip: {session['failures']}")
            else:
                print(f"ok   {name}: the {gate} gate trips", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
