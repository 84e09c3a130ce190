#!/usr/bin/env python3
"""KG-construction benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload <kg_batch|graph_query> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into the checkout; every run then
launches one fresh JVM with `java` (no build tool in the timed path), which
sets up Spark at local[4], runs the workload and checks its outputs. For
graph_query the DuckDB oracle check runs here, after the JVM exits.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; the metrics are the end-to-end ones, or with --trace 1 the
per-layer ones (the full per-layer and per-call-site record is written to
.bench_build/trace/). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850
# a fixed heap: with a growing one, peak RSS follows the collector's sizing
# decisions more than the program's memory use
HEAP = ["-Xms3g", "-Xmx3g"]
# layers outside a workload's job; their per-layer metrics read 0
NOT_EXERCISED = {
    "kg_batch": ("graphops.",),
    "graph_query": ("mentions.", "aliasdict.", "link.", "canonical.", "triples.", "runner.", "pipeline."),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def wait_or_kill(proc, timeout):
    """wait for `proc`; past the timeout kill its whole process group (sbt's
    launcher script runs the JVM as a child) and wait for it. Returns the
    exit code, or "timeout"."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def source_stamp():
    """digest of every file the build reads, so a changed tree rebuilds"""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """compile program + harness once per source state; returns (jvm opts,
    classpath, source stamp)"""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    stamp = source_stamp()
    if not (os.path.isfile(launch) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        log("building program and harness with sbt (first run only)")
        t0 = time.time()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            proc = subprocess.Popen(
                ["sbt", "-J--add-modules=jdk.incubator.vector", f"-J-Djava.io.tmpdir={tmp}",
                 "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True)
            rc = wait_or_kill(proc, BUILD_TIMEOUT_S)
        if rc != 0:
            tail = open(os.path.join(BUILD, "build.log")).read()[-3000:]
            fail(f"build failed (rc={rc}):\n{tail}", 1)
        shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.0f} s")
    opts, cp = [], []
    for line in open(launch).read().splitlines():
        kind, _, val = line.partition(" ")
        if kind == "opt" and not val.startswith(("-Xmx", "-Xms")):
            opts.append(val)
        elif kind == "cp":
            cp.append(val)
    return opts, cp, stamp


def run_jvm(args, opts, cp, work, cache, result):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_STAGE_ROOT"] = os.path.join(BUILD, "stage")
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    cmd = (["java"] + opts + HEAP + [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join(cp), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--docs", os.path.join(HERE, "data", "documents.parquet"),
            "--work", work, "--cache", cache, "--out", result])
    logf = os.path.join(work, "..", f"{os.path.basename(work)}.log")
    with open(logf, "w") as out:
        t0 = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["--t0", str(t0)], cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        rc = wait_or_kill(proc, JVM_TIMEOUT_S)
    if rc != 0:
        log(f"JVM exited with {rc}; log tail:\n" + open(logf).read()[-4000:])
    return rc


# Spark's round(double, 4) rounds the shortest decimal form half up, DuckDB's
# rounds the binary value; an exact tie can land one unit apart in the 4th
# decimal, the precision the ops round to.
FLOAT_ATOL = 1.01e-4


def same_rows(got, want):
    """row sets equal in any order; float columns within FLOAT_ATOL"""
    import numpy as np
    import pandas as pd
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False, f"columns {cols} vs {sorted(want.columns)}, rows {len(got)} vs {len(want)}"
    floats = [c for c in cols if pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(want[c])]
    keys = [c for c in cols if c not in floats]

    def norm(df):
        df = df[cols].copy()
        for c in keys:
            df[c] = df[c].map(lambda v: "NULL" if v is None else str(v))
        for c in floats:
            df[c] = df[c].astype(float)
        return df.sort_values(keys + floats).reset_index(drop=True)

    g, w = norm(got), norm(want)
    if not g[keys].equals(w[keys]):
        return False, "key columns differ"
    if floats and not np.allclose(g[floats].to_numpy(), w[floats].to_numpy(),
                                  rtol=0, atol=FLOAT_ATOL, equal_nan=True):
        return False, "float columns differ"
    return True, f"{len(g)} rows"


def oracle_check(pending_file):
    """each op's first-pass result against the repo's oracle SQL in DuckDB;
    returns (checked, failed) and marks the digests verified when all pass"""
    import duckdb
    import pandas as pd
    pending = json.load(open(pending_file))
    failed, lines = 0, []
    for e in pending["ops"]:
        try:
            con = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            want = con.execute(e["sql"]).df()
            con.close()
            ok, detail = same_rows(pd.DataFrame(e["rows"], columns=e["columns"]), want)
        except Exception as ex:  # an oracle or read error is a failed check
            ok, detail = False, repr(ex)
        if not ok:
            failed += 1
            log(f"oracle check {e['op']} FAILED: {detail}")
        lines.append(f"{e['op']}\t{e['digest']}\n")
    if failed == 0:
        tmp = pending["verified_file"] + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(lines)
        os.replace(tmp, pending["verified_file"])
    return len(pending["ops"]), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} missing): run from the root of a checkout")

    opts, cp, stamp = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    # per-seed references (gold triples, oracle-verified digests), valid for
    # this source state only
    cache = os.path.join(BUILD, "cache", stamp[:16], f"{args.workload}-seed{args.seed}")
    result = os.path.join(BUILD, "runs", f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(args, opts, cp, work, cache, result)
        if rc != 0 or not os.path.isfile(result):
            fail("no result from the JVM", 1)
        res = json.load(open(result))
        attempted, failed = res["attempted"], res["failed"]
        pending = res["sidecar"].get("oracle_pending")
        if pending:
            n, bad = oracle_check(pending)
            attempted += n
            failed += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["metrics"]["ok_ratio"] = {"value": (attempted - failed) / attempted, "unit": "ratio"}
    names = SPEC["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in names:
        got = res["metrics"].get(m["name"])
        if got is None and m["name"].startswith(NOT_EXERCISED[args.workload]):
            got = {"value": 0, "unit": m["unit"]}
        if got is None:
            fail(f"metric {m['name']} missing from the run", 1)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print(f"{args.workload} {m['name']} = {got['value']} {m['unit']}")
    if args.trace:
        out = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(res, f, indent=1)
        print(f"{args.workload} per-layer record: {os.path.relpath(out, ROOT)}")
    bad_checks = [c["name"] for c in res["checks"] if not c["ok"]]
    correct = failed == 0 and not bad_checks
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
