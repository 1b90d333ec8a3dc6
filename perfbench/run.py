#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload sf01-suite --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed, runs the JVM side (graftbench.Main) in a
fresh work directory under `.bench_runs/`, compares batch results with
their DuckDB oracles, and prints one JSON line last on stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones. The run's record, with the per-query or
per-trigger breakdown, is written to `.bench_runs/<workload>/trace.json`.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("sf01-suite", "taxi-stream")
# the engine's /tmp index caches; entries are keyed by the data dir's path
INDEX_CACHES = ("/tmp/graft_dedup_pairs", "/tmp/graft_ivfpq_index", "/tmp/graft_lsh_index")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def remove_index_entries(data_dir):
    """Removes this workload's entries from the engine's /tmp index caches
    and returns their paths."""
    tag = os.path.realpath(data_dir)
    tag = "".join(c if c.isalnum() or c in "._-" else "_" for c in tag) + "_"
    found = []
    for root in INDEX_CACHES:
        if os.path.isdir(root):
            found += [os.path.join(root, e) for e in os.listdir(root) if e.startswith(tag)]
    for p in found:
        shutil.rmtree(p, ignore_errors=True)
    return found


def make_data(seed):
    """(data dir, cache hit, fingerprint) for the batch workload."""
    import gen
    key = f"{gen.GEN_VERSION}-{seed}"
    cache = os.path.join(ROOT, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    hit = os.path.isfile(os.path.join(cache, key, "_DONE"))
    path = gen.cached(cache, key, lambda out: gen.write(gen.base_tables(seed, gen.SF01), out))
    return path, hit, gen.fingerprint(path)


def oracle_check(data_dir, work):
    """DuckDB comparison of each written result, by the rules of
    tools/check_oracle.py: columns sorted by name, rows sorted, values
    compared exactly with -0.0 kept apart, integer and float widths
    normalised, HUGEINT refused. Queries without an oracle are checked
    for a readable result only. Returns (failures, per-query record)."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET memory_limit='2GB'")
    con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if v == 0.0 and math.copysign(1.0, v) < 0:
                return "-0.0"
        return v

    def tclass(t):
        t = str(t)
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            return "int"
        if t in ("FLOAT", "REAL", "DOUBLE"):
            return "float"
        return t

    failures, record = [], {}
    out_root = os.path.join(work, "outputs")
    names = sorted(os.listdir(out_root)) if os.path.isdir(out_root) else []
    for name in names:
        got = con.sql(f"SELECT * FROM '{os.path.join(out_root, name)}/*.parquet'")
        if name not in oracles:
            record[name] = f"rows-only rows={len(got.fetchall())}"
            continue
        exp = con.sql(oracles[name])
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        problem = None
        if gcols != ecols:
            problem = f"schema got={gcols} exp={ecols}"
        else:
            gt = {c: tclass(t) for c, t in zip(got.columns, got.types)}
            et = {c: tclass(t) for c, t in zip(exp.columns, exp.types)}
            if gt != et or any("HUGEINT" in str(t) for t in exp.types):
                problem = f"types got={gt} exp={et}"
            else:
                grows = sorted(tuple(norm(v) for v in r) for r in got.select(*gcols).fetchall())
                erows = sorted(tuple(norm(v) for v in r) for r in exp.select(*ecols).fetchall())
                if grows != erows:
                    problem = f"rows differ: got {len(grows)} exp {len(erows)}"
                else:
                    record[name] = f"pass rows={len(grows)}"
        if problem:
            record[name] = "FAIL " + problem
            failures.append(f"{name}: oracle mismatch, {problem}")
    return failures, record


def run_jvm(args, cp, data, work):
    """Runs graftbench.Main in `work` and returns its result.json."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(2, min(4, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**32))
    cmd = (["java", f"-Xmx{mem_gb}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graftbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), data, work, str(cpus)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"JVM run exceeded {JVM_TIMEOUT_S}s; see {work}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"JVM run failed with code {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so that the compiler or JVM child is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import build
    cp = build.build()

    work = os.path.join(ROOT, ".bench_runs", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = {"workload": args.workload, "seed": args.seed}
    if args.workload == "taxi-stream":
        data = os.path.join(work, "feed")
    else:
        data, hit, fp = make_data(args.seed)
        record.update(data_fingerprint=fp, data_cache_hit=hit,
                      stale_index_entries=remove_index_entries(data))
    try:
        res = run_jvm(args, cp, data, work)
        failures = list(res["failures"])
        if args.workload != "taxi-stream":
            bad, record["oracle"] = oracle_check(data, work)
            failures += bad
    finally:
        if args.workload != "taxi-stream":
            record["index_entries_after"] = remove_index_entries(data)
        for d in ("local", "outputs", "tmp", "duckdb_tmp", "in", "in-local1", "warehouse",
                  "stage-1", "stage-2"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    record.update(res["record"], failures=failures, metrics=res["metrics"], layers=res["layers"])
    with open(os.path.join(work, "trace.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for line in failures:
        sys.stderr.write(f"FAILED {line}\n")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["metrics"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": int(res["attempted"]),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
