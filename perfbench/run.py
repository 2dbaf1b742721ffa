#!/usr/bin/env python3
"""The repository's benchmark: Table 1 latency and throughput on a seeded
cohort, and a frozen 9-query sample of the query registry.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine from source
(build.py), runs one benchmark JVM (perfbench.Main) in local mode on at
most 4 cores with a heap sized from MemTotal, compares the checked outputs
with DuckDB, and prints one JSON line as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Details of the run, the input's properties, spans (traced) and every
failure go to .bench_build/runs/<workload>-s<seed>-t<trace>/ and stderr.
See perfbench/README.md for the workloads and the layer-to-metric map.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("tableone_large", "suite_sample")

# Spark 4 on JDK 17 outside spark-submit (the set build.sbt forks with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# the JVM's run past --seconds: session, input, warm-up, check and the
# untimed tail took 45-60 s at --seconds 10 on 4 cores
JVM_MARGIN_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def heap_mb():
    """A sixth of MemTotal, between 1 and 3 GiB: the machine is shared.
    Fixed (-Xms = -Xmx) so the heap never resizes mid-run, which keeps GC
    timing and peak RSS from varying with when the heap grew."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(3072, total_kb // 6 // 1024))


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(classpath, args, out, timeout):
    cmd = ["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={out}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"benchmark JVM killed after {timeout} s")
        return -1


def oracle_checks(result, out):
    """DuckDB over the same parquet the engine read, compared with the rules
    of tools/check_oracle.py. Returns {call name: message}."""
    sys.path.insert(0, os.path.join(build.ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import compare

    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{out}/duckdb_tmp'")
    for name, path in result["views"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    messages = {}
    for chk in result["checks"]:
        name = chk["name"]
        files = sorted(glob.glob(os.path.join(chk["dir"], "*.parquet")))
        spark_df = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True) if files else None
        if spark_df is None:
            messages[name] = f"FAIL {name}: no output written"
        elif chk["oracle_sql"] is None:
            # no oracle: the output must be non-empty, and its hash must
            # repeat across calls (checked in the JVM)
            messages[name] = (f"SKIP {name}: rows-only ({len(spark_df)} rows)" if len(spark_df)
                              else f"FAIL {name}: zero rows")
        else:
            try:
                duck_df = con.execute(chk["oracle_sql"]).fetchdf()
                messages[name] = compare(name, spark_df, duck_df)
            except Exception as e:  # an oracle that cannot run is a failed check
                messages[name] = f"FAIL {name}: oracle SQL error: {e}"
    con.close()
    return messages


def check_counts(result, workload):
    """Jobs, stages, tasks and actions per traced call must repeat exactly
    across traced runs of one workload built from the same sources.
    Compares with the previous such traced run in this build directory
    (the JVM compares the traced rounds within the run). Input rows per
    call are reported, not compared. Returns the counts that moved."""
    path = os.path.join(build.build_dir(), f"counts-{workload}.json")
    counts = result["counts"]
    per_call = {k: counts[k] / counts["calls"] for k in ("jobs", "stages", "tasks", "actions", "input_rows")}
    result["counts_per_call"] = per_call
    sources = build.sources_stamp()
    moved = {}
    if os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
        if prior.get("sources") == sources:
            keys = ("jobs", "stages", "tasks", "actions")
            moved = {k: (prior["per_call"][k], per_call[k]) for k in keys if prior["per_call"][k] != per_call[k]}
            log(f"counts per call differ from the previous traced run: {moved}" if moved else
                f"counts per call repeat the previous traced run exactly: {', '.join(keys)}")
    with open(path, "w") as f:
        json.dump({"sources": sources, "per_call": per_call}, f)
    return moved


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t = time.time()
    classpath = build.build()
    log(f"build ready in {time.time() - t:.1f} s")

    out = os.path.join(build.build_dir(), "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    steal0, total0 = cpu_times()
    code = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--out", out,
        "--suite-data", os.path.join(HERE, "data", "sf0.01"),
        "--suite-queries", os.path.join(HERE, "suite_queries.txt")], out, a.seconds + JVM_MARGIN_S)
    steal1, total1 = cpu_times()
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.exit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(result_path) as f:
        result = json.load(f)

    messages = oracle_checks(result, out)
    for m in messages.values():
        log(m.splitlines()[0] if m.startswith(("PASS", "SKIP")) else m)
    bad = {n for n, m in messages.items() if m.startswith("FAIL")}
    # a call whose checked output is wrong is wrong on every call of its
    # query, since each call's hash must equal the checked call's
    failed = sum(result["calls_by_name"][n] if n in bad else k
                 for n, k in result["failed_by_name"].items())
    attempted = result["attempted"]
    if a.trace:
        moved = check_counts(result, a.workload)
        if moved:
            # counts that did not repeat fail every traced call of the run
            failed += result["counts"]["calls"]
            result["failures"].append(f"counts per call moved since the previous traced run: {moved}")
    for f_ in result["failures"]:
        log(f"failure: {f_}")

    e2e = result["end_to_end"]
    e2e["failed_frac"] = failed / attempted
    result["oracle"] = messages
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # noisy neighbour shows here, not in the program's figures
    result["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    # the metric names and units are BENCHMARK.json's
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        metrics = {m["name"]: {"value": result["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    with open(result_path, "w") as f:
        json.dump(result, f, indent=1)
    log("end to end: " + json.dumps(e2e) + f"; cpu steal {result['cpu_steal_frac']:.3f}")
    log(f"properties: {json.dumps(result['properties'])}")
    if a.trace:
        log(f"counts per call: {json.dumps(result['counts_per_call'])}; families: {json.dumps(result['families'])}")
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
