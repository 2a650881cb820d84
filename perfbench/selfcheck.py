#!/usr/bin/env python3
"""Self-check of the benchmark at a small size. From the root of a
checkout: python3 perfbench/selfcheck.py

Asserts that
  - every metric name in BENCHMARK.json is printed with its unit, and
    every one that applies to the workload was reported by the JVM itself,
  - every span lies within its parent span, and each op's spans within
    the op's first span,
  - corrupting one voxel of the round-trip output, or one sql_mix result
    row, makes fail_ratio > 0, while the clean runs report 0.
Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import ONLY  # noqa: E402

SMALL = ["--seconds", "1"]
TWO_QUERIES = ["--queries", "q06_join_shipping_priority,q201_rank_keyed_distributed"]


def run(workload, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--trace", str(trace)] + SMALL + list(extra)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"selfcheck: {' '.join(cmd)} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def expect(ok, what):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        raise SystemExit(1)


def check_metrics(res, units, workload, trace):
    """`units`: {metric name: unit} the result line must print. The ones
    that apply to the workload are checked on the JVM's own report, before
    run.py fills in the ones that do not apply."""
    m = res["metrics"]
    bad = [n for n, u in units.items() if n not in m or m[n].get("unit") != u
           or not isinstance(m[n].get("value"), (int, float))]
    expect(not bad and set(m) == set(units),
           f"{workload} --trace {trace}: every metric printed with its unit {bad}")
    reported = json.load(open(f".bench_work/{workload}/result.json"))["metrics"]
    others = {n for w, names in ONLY.items() if w != workload for n in names} if trace else set()
    bad = [n for n, u in units.items() if n not in others and (
        n not in reported or reported[n]["unit"] != u
        or not isinstance(reported[n]["value"], (int, float)))]
    expect(not bad, f"{workload} --trace {trace}: the JVM reported all "
           f"{len(units) - len(others & set(units))} metrics that apply, with their units {bad}")


def check_spans(workload):
    spans = [json.loads(line) for line in open(f".bench_work/{workload}/spans.jsonl")]
    by_id = {s["id"]: s for s in spans}
    bad = [s for s in spans if s["parent"] >= 0 and not (
        by_id[s["parent"]]["start_ms"] <= s["start_ms"] <= s["end_ms"] <= by_id[s["parent"]]["end_ms"])]
    expect(spans and not bad, f"{workload}: {len(spans)} spans, each within its parent {bad[:2]}")
    first = {}
    for s in sorted(spans, key=lambda s: s["id"]):
        first.setdefault(s["op"], s)
    bad = [s for s in spans if s["op"] > 0 and not (
        first[s["op"]]["start_ms"] <= s["start_ms"] <= s["end_ms"] <= first[s["op"]]["end_ms"])]
    expect(not bad, f"{workload}: each op's spans run within the op's first span {bad[:2]}")


def main():
    spec = json.load(open("BENCHMARK.json"))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    r = run("roundtrip", 1, "--dims", "128,128,64")
    check_metrics(r, layers, "roundtrip", 1)
    check_spans("roundtrip")
    expect(r["correct"] and r["failed"] == 0, "roundtrip: clean outputs pass their checks")
    r = run("roundtrip", 0, "--dims", "128,128,64", "--corrupt", "voxel")
    check_metrics(r, e2e, "roundtrip", 0)
    expect(r["failed"] > 0 and not r["correct"], "roundtrip: one corrupted voxel makes fail_ratio > 0")

    r = run("scan", 1, "--dims", "192,128,64")
    check_metrics(r, layers, "scan", 1)
    check_spans("scan")
    expect(r["correct"], "scan: outputs pass their checks")

    r = run("sql_mix", 1, *TWO_QUERIES)
    check_metrics(r, {**layers, **{f"queries.{q}_s": "s" for q in TWO_QUERIES[-1].split(",")}},
                  "sql_mix", 1)
    check_spans("sql_mix")
    r = run("sql_mix", 0, *TWO_QUERIES)
    check_metrics(r, e2e, "sql_mix", 0)
    expect(r["correct"] and r["failed"] == 0, "sql_mix: two queries match the DuckDB oracle")
    r = run("sql_mix", 0, *TWO_QUERIES, "--corrupt", "row")
    expect(r["failed"] > 0 and not r["correct"], "sql_mix: one corrupted result row makes fail_ratio > 0")
    print("selfcheck passed")


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        raise SystemExit("selfcheck: run from the root of a checkout")
    main()
