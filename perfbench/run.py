#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one run.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload ann_train --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine and this benchmark with
sbt and generates the base tables with `graft.SynthData`; both are
cached under `.bench_build/`. Every run then stages the seed's tables
with DuckDB and starts one JVM (`perfbench.Main`) that checks the
workload's outputs in an untimed pass and measures whole passes over
it, one per 5 s of `--seconds` (see README.md). This script then runs
the repo's DuckDB gate, `scripts/oracle_check.py`, over the checked
outputs and prints the result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. The line before it is a report with the run's
details (set-up repetitions, pass times, per-query medians, Spark conf).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
BASE_SF = "0.01"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


# Each workload: the calls it makes, in order, and its untimed warm-up
# passes after the check. The `stream_ingest` calls are the operators of
# `perfbench.Streams`. `ann_train` passes keep getting faster long after
# the check (with one warm-up pass, they still sped up by 25% over the
# next five), so it gets two; `stream_ingest` drifts less and gets one,
# which keeps a run of each within about a minute.
WORKLOADS = {
    "ann_train": (["q180_entity_clusters", "q241_pq_adc_recall"], 2),
    "stream_ingest": (["windowed_counts", "dedup_exact"], 1),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def source_stamp():
    """Content hash of everything the build reads."""
    files = ["build.sbt"] + sorted(glob.glob("project/*.sbt")) + \
        sorted(glob.glob("project/build.properties"))
    for root in ["src/main", os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")]:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt",
                                     ".properties"))]
    files.append(os.path.join(HERE, "build.sbt"))
    h = hashlib.sha256()
    for f in sorted({os.path.relpath(f) for f in files}):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_logged(cmd, logfile, timeout, cwd=None, env=None):
    with open(logfile, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def java_cmd(cp, tmpdir, main, args):
    opens = [x for p in JDK_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmpdir}", "-cp", cp, main] + args)


def build(cores):
    """Compiles engine + benchmark and generates the base tables, once
    per source state. Returns (classpath, base table dir)."""
    stamp = source_stamp()
    out = os.path.abspath(os.path.join(BUILD, stamp))
    cp_file = os.path.join(out, "classpath.txt")
    base = os.path.join(out, f"base-sf{BASE_SF}")
    if os.path.exists(os.path.join(base, "_DONE")):
        with open(cp_file) as fh:
            return fh.read().strip(), base
    for old in glob.glob(os.path.join(BUILD, "*", "build.log")):
        shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    log(f"building ({stamp}); log in {out}/build.log")
    sbt_log = os.path.join(out, "build.log")
    cp = None
    for _ in range(2):  # one retry: a cold sbt start can fail transiently
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "compile", "export Runtime/fullClasspath"],
                        sbt_log, BUILD_TIMEOUT_S / 2, cwd=HERE)
        with open(sbt_log) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        cp = next((ln for ln in reversed(lines)
                   if ".jar" in ln and not ln.startswith("[")), None)
        if rc == 0 and cp:
            break
        log(f"sbt failed (rc={rc}): " + " | ".join(lines[-5:]))
    if rc != 0 or not cp:
        raise SystemExit(f"build failed (rc={rc}); see {sbt_log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    log("generating base tables")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_LOCAL_DIRS", None)
    rc = run_logged(java_cmd(cp, tmp, "graft.SynthData", [BASE_SF, base]),
                    os.path.join(out, "synth.log"), BUILD_TIMEOUT_S,
                    cwd=out, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.isdir(base) or not tables(base):
        raise SystemExit(f"base table generation failed (rc={rc})")
    open(os.path.join(base, "_DONE"), "w").close()
    return cp, base


# (table, column) -> key domain. `doc` is shared: `vec_id` and `doc_id`
# name the same entity (the filtered-ANN queries join them).
KEY_COLS = {
    "customer": [("c_custkey", "cust")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"),
                 ("l_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "supplier": [("s_suppkey", "supp")],
    "events": [("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "doc")],
}


def tables(d):
    """Names of the `<name>.parquet` tables in directory `d`."""
    return sorted(n[:-len(".parquet")] for n in os.listdir(d)
                  if n.endswith(".parquet"))


def parquet_src(d, t):
    src = f"{d}/{t}.parquet"
    return f"{src}/*.parquet" if os.path.isdir(src) else src


def stage(con, base, data, seed):
    """Copies the base tables into `data`, re-keyed by `seed`.

    Seed 0 copies them unchanged. Any other seed relabels every key
    domain with a seeded affine permutation k -> (a*k + b) mod n, the
    same one on both sides of each foreign key, so row counts, key
    domains and value distributions stay put while the partition and
    hash-bucket layout changes. A domain whose columns end at different
    ids (doc ids run past the vector ids) is permuted piecewise.
    """
    os.makedirs(data, exist_ok=True)
    maps = {}
    if seed != 0:
        import random
        domains = sorted({d for cols in KEY_COLS.values() for _, d in cols})
        for dom in domains:
            ends = sorted({con.execute(
                f"SELECT max({c}) + 1 FROM read_parquet("
                f"'{parquet_src(base, t)}')").fetchone()[0] or 0
                for t, cols in KEY_COLS.items() for c, d in cols if d == dom})
            bounds = [0] + [e for e in ends if e > 0]
            pieces = []
            for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                n = hi - lo
                rnd = random.Random(f"{seed}/{dom}/{i}")
                a = rnd.randrange(1, n) if n > 1 else 1
                while math.gcd(a, n) != 1:
                    a = a % (n - 1) + 1
                pieces.append((lo, hi, a, rnd.randrange(n)))
            maps[dom] = pieces
    for t in tables(base):
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{parquet_src(base, t)}')"
        ).fetchall()]
        key = dict(KEY_COLS.get(t, []))
        exprs = []
        for c in cols:
            if key.get(c) in maps:
                cases = " ".join(
                    f"WHEN {c} >= {lo} AND {c} < {hi} THEN "
                    f"(({c} - {lo}) * {a} + {b}) % {hi - lo} + {lo}"
                    for lo, hi, a, b in maps[key[c]])
                exprs.append(f"CAST(CASE {cases} ELSE {c} END AS BIGINT) "
                             f"AS {c}")
            else:
                exprs.append(c)
        con.execute(f"COPY (SELECT {', '.join(exprs)} FROM read_parquet("
                    f"'{parquet_src(base, t)}')) TO '{data}/{t}.parquet' "
                    "(FORMAT PARQUET)")


def oracle_check(data, check):
    """Runs the repo's DuckDB gate, `scripts/oracle_check.py`, over the
    check pass's outputs. Returns its FAIL lines."""
    out = subprocess.run([sys.executable, "scripts/oracle_check.py", data,
                          check], capture_output=True, text=True,
                         timeout=120)
    fails = [ln for ln in out.stdout.splitlines() if ln.startswith("FAIL")]
    if out.returncode not in (0, 1) or (out.returncode == 1 and not fails):
        fails.append(f"FAIL oracle_check.py exited {out.returncode}: "
                     + out.stderr.strip()[-300:])
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an error, so the JVM's process group is
    # killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload!r}; one of {names}")
    if not os.path.isfile("build.sbt") or not os.path.isdir("src/main") \
            or not os.path.isfile("scripts/oracle_check.py"):
        raise SystemExit("run from the root of an engine checkout (build.sbt, "
                         "src/main or scripts/oracle_check.py is missing)")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    cores = len(os.sched_getaffinity(0))
    queries, warmup = WORKLOADS[a.workload]
    cp, base = build(cores)

    work = os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    spans = os.path.abspath(os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
    jvm_log = os.path.abspath(os.path.join(BUILD, f"last-{a.workload}.log"))
    phases = {}
    try:
        data = os.path.join(work, "data")
        t0 = time.monotonic()
        con = duckdb.connect()
        con.execute("SET threads = 2")
        try:
            stage(con, base, data, a.seed)
        finally:
            con.close()
        t1 = time.monotonic()
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_GRAFT_ONLY=",".join(queries))
        # Spark's scratch space follows java.io.tmpdir, inside the run
        env.pop("SPARK_LOCAL_DIRS", None)
        rc = run_logged(java_cmd(cp, os.path.join(work, "tmp"),
                                 "perfbench.Main", [
                                     "--workload", a.workload,
                                     "--queries", ",".join(queries),
                                     "--warmup", str(warmup),
                                     "--seed", str(a.seed),
                                     "--seconds", str(seconds),
                                     "--trace", str(a.trace),
                                     "--cores", str(cores),
                                     "--data", data,
                                     "--work", work,
                                     "--out", result_file,
                                     "--spans", spans]),
                        jvm_log, JVM_TIMEOUT_S, cwd=work, env=env)
        if rc != 0 or not os.path.isfile(result_file):
            raise SystemExit(f"benchmark JVM failed (rc={rc}); see {jvm_log}")
        with open(result_file) as fh:
            res = json.load(fh)
        t2 = time.monotonic()
        errors = oracle_check(data, os.path.join(work, "check"))
        phases = {"stage_s": t1 - t0, "jvm_s": t2 - t1,
                  "oracle_check_s": time.monotonic() - t2}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"] + len(errors)
    for e in errors:
        log(f"check {e}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    measured = res["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in wanted}
    report = {k: res[k] for k in res if k not in ("end_to_end", "per_layer")}
    report["failed_frac"] = failed / max(1, res["attempted"])
    report["check_errors"] = errors
    report["phases_s"] = phases
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
