#!/usr/bin/env python3
"""graft replication + analytics benchmark.

    python3 graftbench/run.py --workload replicate_cdc --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the harness from source
(see build.py), runs one closed-loop workload in one JVM, checks the
analytics results against the DuckDB oracle, and prints one JSON
summary as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 1 reports the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import mixdata  # noqa: E402

WORKLOADS = ("replicate_cdc", "analytics_mix")
JVM_TIMEOUT_S = 170
ORACLE_CAP_S = 30


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classpath, work, args, extra):
    out = os.path.join(work, "result.json")
    cmd = [build.java(), "-Xmx3g", "-Xss16m", "-XX:+ExitOnOutOfMemoryError",
           "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false",
           # a lock held by a transaction graft leaks fails the op in
           # seconds instead of Derby's default minute
           "-Dderby.locks.waitTimeout=2",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}",
           *build.ADD_OPENS, "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--work", work]
    if args.inject:
        cmd += ["--inject", args.inject]
    cmd += extra
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("graftbench: JVM run timed out")
    log(f"JVM ran {time.monotonic() - t0:.1f}s")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"graftbench: JVM run failed with exit code {code}")
    with open(out) as f:
        return json.load(f)


def load_check_module():
    """tools/check.py's value normalisation and capped oracle runner."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.CAP = ORACLE_CAP_S
    return mod


def sorted_rows(check, df):
    """check.py's comparison form: columns by name, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(tuple(check.norm(v) for v in r)
                                    for r in df.itertuples(index=False))


def oracle_check(res, seed):
    """Compares every analytics query's Spark result with DuckDB running
    the query's oracle SQL over the same tables. Oracle answers are
    cached by SQL text and data identity (seed + generator source)."""
    import duckdb
    check = load_check_module()
    cache_dir = os.path.join(build.OUT, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    data_key = f"seed={seed};gen={build.source_hash([mixdata.__file__])}"
    con = duckdb.connect()
    for name in glob.glob(os.path.join(res["data_dir"], "*.parquet")):
        table = os.path.basename(name)[:-len(".parquet")]
        con.execute(f"create view {table} as select * from "
                    f"read_parquet('{name}')")
    failures = []
    for q in res["oracle"]:
        name, sql = q["query"], q["sql"]
        if q["spark_failed"]:
            continue  # already counted as failed ops
        if not sql:
            failures.append((name, q["ops"], "no oracle SQL"))
            continue
        key = hashlib.sha256(f"{sql}\0{data_key}".encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
            want = (want[0], [tuple(r) for r in want[1]])
        else:
            df, _ = check.run_capped(con, sql)
            if df is None:
                failures.append((name, q["ops"], f"oracle exceeded {ORACLE_CAP_S}s"))
                continue
            want = sorted_rows(check, df)
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        got = sorted_rows(check, con.execute(
            "select * from read_parquet(?)",
            [glob.glob(os.path.join(res["results_dir"], name, "*.parquet"))]).fetchdf())
        if got[0] != want[0]:
            failures.append((name, q["ops"], f"cols {got[0]} != oracle {want[0]}"))
        elif len(got[1]) != len(want[1]):
            failures.append((name, q["ops"], f"{len(got[1])} rows != oracle {len(want[1])}"))
        elif got[1] != want[1]:
            i = next(i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b)
            failures.append((name, q["ops"], f"sorted row {i}: {got[1][i]} != oracle {want[1][i]}"))
    con.close()
    return failures


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject", default="", help="self-test faults, comma separated")
    args = p.parse_args(argv)

    classpath = build.build()
    work = os.path.join(build.OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if args.workload == "analytics_mix":
            data = os.path.join(work, "mixdata")
            mixdata.write(data, args.seed)
            extra = ["--data", data]
        res = run_jvm(classpath, work, args, extra)
        if args.workload == "analytics_mix":
            t0 = time.monotonic()
            for name, ops, why in oracle_check(res, args.seed):
                res["failed"] += ops
                res["correct"] = False
                res["errors"].append(f"{name}: {why}")
                log(f"FAILED oracle check {name}: {why}")
            log(f"oracle check {time.monotonic() - t0:.1f}s")
        if args.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    build.OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = os.path.join(build.OUT, f"last-{args.workload}-trace{args.trace}.json")
    with open(summary, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if args.trace:
        untraced = os.path.join(build.OUT, f"last-{args.workload}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            over = {k[len("traced."):]: v["value"] - base[k[len("traced."):]]["value"]
                    for k, v in res["metrics"].items()
                    if k.startswith("traced.") and k[len("traced."):] in base}
            log("tracing overhead (traced - untraced): " +
                " ".join(f"{k}={v:+.4g}" for k, v in sorted(over.items())))
    for e in res["errors"]:
        log(f"error: {e}")
    log("detail: " + json.dumps(res["detail"], sort_keys=True))
    metrics = {k: v for k, v in res["metrics"].items() if not k.startswith("traced.")}
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
