#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload roundtrip|scan|sql_mix --seed N \
        --seconds S --trace 0|1

Builds graft and the benchmark (perfbench/build.py, skipped when up to
date), makes the workload's inputs from the seed, runs the workload in one
JVM on Spark local[nproc] for S seconds of timed ops, checks every output,
and prints one JSON object as the last line of stdout. --trace 0 reports
the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

SQL_MIX = ["q06_join_shipping_priority", "q131_star_join_q5", "q170_setsim_prefix_join",
           "q186_substring_dedup", "q201_rank_keyed_distributed"]
# graft's test corpus at sf0.01 (the correctness gate's scale), copied as is
CORPUS = "perfbench/corpus/sf0.01"

# workload sizes (see README.md for how they were chosen)
WORKLOADS = {
    "roundtrip": {"dims": "256,256,128"},
    "scan": {"dims": "256,256,128", "rois": "4"},
    "sql_mix": {"queries": ",".join(SQL_MIX)},
}

# per-layer metrics of BENCHMARK.json that only one workload produces; every
# other per-layer metric is produced by every workload
ONLY = {
    "roundtrip": ["sources.tiff.export_s", "sources.tiff.ingest_s", "sources.tiff.encode_mbps",
                  "sources.tiff.decode_mbps", "n5.multiscale.pyramid_s", "n5.bytes_written",
                  "n5.files_written", "sources.tiff.bytes_written", "host.disk_write_mbps"],
    "scan": ["sources.n5.agg_s", "sources.n5.histogram_s", "sources.n5.elements_per_s",
             "plans.box_blocks_read", "plans.box_read_ratio", "queries.mip_s", "operators.cc_s"],
    "sql_mix": [],
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

DEADLINE_S = 170  # a run must end within 180 s


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-check knobs (perfbench/selfcheck.py)
    p.add_argument("--dims", help="volume size x,y,z")
    p.add_argument("--queries", help="sql_mix queries, comma-separated")
    p.add_argument("--corrupt", choices=["none", "voxel", "row"], default="none")
    return p.parse_args()


def main():
    a = parse()
    t_start = time.time()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path) or not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail(f"{root} is not a graft checkout (needs BENCHMARK.json and src/main/scala)")
    spec = json.load(open(spec_path))
    cp = build.build(root)
    # the first run in a checkout also builds, and may take 900 s
    deadline = t_start + (DEADLINE_S if time.time() - t_start < 20 else 880)

    w = dict(WORKLOADS[a.workload])
    for k in ("dims", "queries"):
        if getattr(a, k):
            w[k] = getattr(a, k)
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work": work, "out": out, "corrupt": a.corrupt,
            "tables": os.path.join(root, CORPUS)}
    args.update(w)

    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past the deadline; see {log_path}")
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-3000:])
        fail(f"the JVM exited with code {code}; see {log_path}")
    res = json.load(open(out))

    failed, notes = res["failed"], list(res["failures"])
    if a.workload == "sql_mix":
        results = os.path.join(work, "results")
        queries = w["queries"].split(",")
        if a.corrupt == "row":
            corrupt_one_row(results, queries[0])
        for q, why in oracle_check(root, args["tables"], results, queries).items():
            if why:
                failed += 1
                notes.append(f"{q} result != DuckDB oracle: {why}")

    for line in res["info"]:
        print(line)
    print("env: " + json.dumps(res["env"], sort_keys=True))
    fail_ratio = failed / res["attempted"]
    print(f"fail_ratio: {fail_ratio} ({failed} of {res['attempted']} ops)")
    for n in notes:
        print(f"FAILED: {n}")
        print(f"FAILED: {n}", file=sys.stderr)

    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    others = {n for k, v in ONLY.items() if k != a.workload for n in v}
    extra = [f"queries.{q}_s" for q in w["queries"].split(",")] \
        if a.workload == "sql_mix" and a.trace == 1 else []
    metrics, not_applicable = {}, []
    for m in wanted + [{"name": n, "unit": "s"} for n in extra]:
        if a.trace == 1 and m["name"] in others:
            # the workload does not exercise this layer
            not_applicable.append(m["name"])
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            continue
        got = res["metrics"].get(m["name"])
        if got is None:
            fail(f"metric {m['name']} was not measured")
        if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            fail(f"metric {m['name']} reads {got}, want a number in {m['unit']}")
        metrics[m["name"]] = got
    if not_applicable:
        print(f"n/a (printed as 0, not measured on {a.workload}): {' '.join(not_applicable)}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


def oracle_check(root, tables, results, queries):
    """{query: None if its result matches its DuckDB oracle SQL under graft's
    correctness gate (tools/check.py), else the gate's verdict}."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools/check.py"), tables, results],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    verdicts = dict(line.split(None, 1) for line in r.stdout.splitlines()
                    if len(line.split(None, 1)) == 2 and line.split()[0] in queries)
    return {q: None if r.returncode == 0 and verdicts.get(q) == "PASS"
            else verdicts.get(q, f"tools/check.py exited {r.returncode}: {r.stderr.strip()[-200:]}")
            for q in queries}


def corrupt_one_row(results, query):
    """Self-check hook: changes one value of the first row of a result."""
    import glob
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = glob.glob(os.path.join(results, query, "*.parquet"))[0]
    t = pq.read_table(f)
    for i, field in enumerate(t.schema):
        if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
            col = t.column(i).to_pylist()
            col[0] = (col[0] or 0) + 1
            pq.write_table(t.set_column(i, field, pa.array(col, field.type)), f)
            return
    raise ValueError(f"{query} has no numeric column to corrupt")


if __name__ == "__main__":
    main()
