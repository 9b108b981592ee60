#!/usr/bin/env python3
"""Benchmark of the graft engine: four seeded closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: wordcount, curation, relational, table (see perfbench/README.md);
`--workload all` runs each of them untraced and traced and prints every
metric of all of them, keyed <workload>.<metric>, on its last line.
The first run in a checkout compiles the engine and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the build while no source changed.
The script generates the workload's inputs from the seed, runs one JVM on
local[N] (N = processors, or --threads, which may not exceed them), checks
every result, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics of a traced run (--trace 1).
Everything it writes stays under perfbench/.work/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
WORKLOADS = ("jobs", "curation", "table", "wordcount", "relational")
DRIVER_WORKLOADS = ("jobs", "curation", "table")
DEADLINE_S = 175
BUILD_DEADLINE_S = 880
# the build and the class-data training leave a measuring run its own time
BUILD_BUDGET_S = BUILD_DEADLINE_S - DEADLINE_S
RELATIONAL_SCALE = 0.002
TABLE_SCALE = 0.01
CURATION_DOCS = 500
CURATION_VARIANTS = 4
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(started):
    """Compiles with sbt unless the last build saw the same sources.
    Returns the class path and whether this call built it."""
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    if (os.path.exists(stamp) and os.path.exists(cp_file)
            and open(stamp).read() == h.hexdigest()):
        return open(cp_file).read().strip(), False
    for f in (stamp, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    log("perfbench: building engine + benchmark with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    # resolve only from the local caches: the build runs without network
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = env.get("SBT_OPTS", "")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "package",
           "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_BUDGET_S - (time.time() - started))
    except subprocess.TimeoutExpired:
        die("sbt build timed out", 1)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        die("sbt build failed", 1)
    cp = lines[-1]
    train(cp, started)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp, True


def train(cp, started):
    """Runs every workload's set-up and warm-up once in a JVM that dumps
    the classes it loaded into a class-data archive; later runs map the
    archive and start in about half the time."""
    log("perfbench: recording the class-data archive ...")
    shutil.rmtree(RUN, ignore_errors=True)
    data = os.path.join(RUN, "data")
    for w in DRIVER_WORKLOADS:
        make_inputs(w, 0, os.path.join(data, w))
        os.makedirs(os.path.join(RUN, w))
    args = argparse.Namespace(workload="all", seed=0, seconds=1, trace=0,
                              threads=0)
    proc = java(cp, args, data, ["--train", "1"],
                [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    try:
        proc.wait(timeout=max(10, BUILD_BUDGET_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("class-data training run timed out", 1)


def make_inputs(workload, seed, data):
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import gen
    os.makedirs(data)
    if workload in ("relational", "jobs"):
        gen.tpch(data, seed, RELATIONAL_SCALE)
    elif workload == "curation":
        gen.documents(data, seed % CURATION_VARIANTS, CURATION_DOCS, seed)
    elif workload == "table":
        gen.keyed_lineitem(data, seed, TABLE_SCALE)


def java(cp, a, data, extra_args, jvm_opts):
    os.makedirs(os.path.join(RUN, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}"] + jvm_opts
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--work", RUN,
              "--out", os.path.join(RUN, "result.json")]
           + (["--threads", str(a.threads)] if a.threads else []) + extra_args)
    return subprocess.Popen(cmd, cwd=RUN, stdout=sys.stderr, stderr=sys.stderr)


def run_jvm(cp, a, data, deadline):
    archive = ([f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
               if os.path.exists(CDS_ARCHIVE) else [])
    proc = java(cp, a, data, [], archive)
    out = os.path.join(RUN, "result.json")
    try:
        code = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("benchmark JVM timed out", 1)
    if code != 0:
        die(f"benchmark JVM exited with {code}", 1)
    with open(out) as f:
        return json.load(f)


def same_value(g, e):
    if g is None or e is None:
        return g is None and e is None
    if isinstance(e, bool) or isinstance(g, bool):
        return g == e
    if isinstance(e, (int, float)) and isinstance(g, (int, float)):
        if isinstance(e, int) and isinstance(g, int):
            return g == e
        # rounded float aggregates: summation order may move the last digit
        return abs(g - e) <= 0.0100001 + 1e-9 * max(abs(g), abs(e))
    return str(g) == str(e)


def same_result(cols, rows, exp_cols, exp_rows):
    """Column order-insensitive (compared by name), row order-sensitive:
    every query ends in a total ORDER BY."""
    if sorted(cols) != sorted(exp_cols) or len(rows) != len(exp_rows):
        return False
    gi = [cols.index(c) for c in sorted(cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    return all(same_value(g[i], e[j]) for g, e in zip(rows, exp_rows)
               for i, j in zip(gi, ei))


def duckdb_tables(data):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    return con


def check_deferred(deferred, data, seed, record):
    """Returns (failed ops, messages) for the results the JVM left."""
    failed, msgs = 0, []
    con = None
    expected_file = os.path.join(HERE, "expected", "curation.json")
    for d in deferred:
        if d["kind"] == "oracle":
            con = con or duckdb_tables(data)
            cur = con.execute(d["sql"])
            exp_cols = [c[0] for c in cur.description]
            exp_rows = [list(r) for r in cur.fetchall()]
        else:
            variant = str(seed % CURATION_VARIANTS)
            if record:
                con = con or duckdb_tables(data)
                cur = con.execute(d["sql"])
                exp = {"columns": [c[0] for c in cur.description],
                       "rows": [list(r) for r in cur.fetchall()]}
                allexp = (json.load(open(expected_file))
                          if os.path.exists(expected_file) else {})
                allexp[variant] = exp
                with open(expected_file, "w") as f:
                    json.dump(allexp, f, indent=1, sort_keys=True)
            exp = json.load(open(expected_file))[variant]
            exp_cols, exp_rows = exp["columns"], exp["rows"]
        if not d["results"]:
            failed += 1
            msgs.append(f"{d['name']}: no result recorded")
        for r in d["results"]:
            if not same_result(r["columns"], r["rows"], exp_cols, exp_rows):
                failed += r["count"]
                msgs.append(f"{d['name']}: {r['count']} result(s) differ "
                            f"from the expected result")
    return failed, msgs


def run_all(a):
    """Runs every workload untraced and traced in turn; prints each run's
    lines, then one line with every metric keyed <workload>.<metric>."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in DRIVER_WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(trace)]
            if a.threads:
                cmd += ["--threads", str(a.threads)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            print(p.stdout, end="", flush=True)
            if p.returncode != 0:
                die(f"{w} --trace {trace} failed", p.returncode)
            d = json.loads(p.stdout.strip().splitlines()[-1])
            correct &= d["correct"]
            attempted += d["attempted"]
            failed += d["failed"]
            metrics.update({f"{w}.{k}": v for k, v in d["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all: every workload untraced and "
                         "traced, one after the other")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=0,
                    help="scheduler threads (default: all processors)")
    ap.add_argument("--record-expected", action="store_true",
                    help="curation: record the DuckDB oracle's result for "
                         "this seed's corpus variant")
    a = ap.parse_args()
    if a.workload == "all":
        run_all(a)
        return
    nproc = os.cpu_count()
    if a.threads > nproc:
        die(f"refusing local[{a.threads}]: this machine has {nproc} "
            "processors", 3)
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(bench_file)):
        die("the engine's sources (src/main/scala/graft) are not beside "
            "perfbench/; run from a checkout of the repository")
    spec = json.load(open(bench_file))

    os.makedirs(WORK, exist_ok=True)
    cp, built = build(started)
    # a run that builds may take the build's allowance as a whole
    deadline = started + (BUILD_DEADLINE_S if built else DEADLINE_S)
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(RUN)
    data = os.path.join(RUN, "data")
    make_inputs(a.workload, a.seed, data)
    res = run_jvm(cp, a, data, deadline)

    d_failed, d_msgs = check_deferred(res["deferred"], data, a.seed,
                                      a.record_expected)
    attempted = res["attempted"]
    failed = res["failed"] + d_failed
    for m in res["errors"] + d_msgs:
        log("perfbench: FAILED " + m)
    values = dict(res["e2e"] if not a.trace else res["layer"])
    if a.trace:
        values["error_rate"] = failed / attempted
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        die("no value for " + ", ".join(missing), 1)
    bad = [m["name"] for m in names
           if not isinstance(values[m["name"]], (int, float))
           or not math.isfinite(values[m["name"]])]
    if bad:
        die("non-finite value for " + ", ".join(bad), 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in names}
    print(json.dumps({"env": res["env"], "setup_runs_s": res["setup_runs_s"],
                      "rounds": res["rounds"], "context": res["context"],
                      "elapsed_s": round(time.time() - started, 1)}))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
