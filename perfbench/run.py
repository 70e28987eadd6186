#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the harness (perfbench/harness,
an sbt build that compiles the repository's own build as a dependency)
from source on first use, generates the workload's inputs from the seed
(perfbench/gen.py), runs the measured loop in one JVM sized to the host,
checks the outputs (DuckDB oracle for registered queries, batch twins
for stream outputs) and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1, named and with the
units BENCHMARK.json declares. The line before it is a report with
sample counts and the workload-specific figures. Scratch files live in a
temporary directory under the build directory ($CARGO_TARGET_DIR,
default .bench_build) and are removed at exit; the trace spans of a
traced run are kept there.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("event_analytics", "stream_replay")
# A run may take 180 s, the first one in a checkout 900 s because it
# builds: the run's own deadline starts once the build is done.
BUILD_TIMEOUT_S = 680
RUN_TIMEOUT_S = 175
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host():
    """Cores from the CPU affinity mask (what nproc reports) and the
    heap from MemTotal: a quarter of it, between 2 and 6 GiB, so the
    run leaves room for other processes on the machine."""
    cores = len(os.sched_getaffinity(0))
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    heap_gib = max(2, min(6, mem_kib // (4 * 1024 * 1024)))
    return cores, f"{heap_gib}g"


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    the share stolen by the hypervisor during a run explains runs that
    are slow throughout."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for pat in ("project/*.properties", "project/*.sbt", "src/main/**/*",
                "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
                "perfbench/harness/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for p in sorted(set(files)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(bdir):
    """Compile harness + repository with sbt once per source digest and
    cache the runtime classpath."""
    digest = source_digest()
    cp_file = os.path.join(bdir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_tmp = os.path.join(bdir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # sbt binds a boot socket under java.io.tmpdir; under a long checkout
    # path its name exceeds the unix socket limit, and without forcestart
    # sbt then exits instead of building
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.server.forcestart=true",
           "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={sbt_tmp}",
           "compile", "export Runtime/fullClasspath"]
    try:
        code, out, err = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HARNESS, env=env,
                                     stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                     stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        die("build timed out", 1)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die("build failed", 1)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


# ---- output checks against DuckDB ----
# The canonical form and digest are those of the repository's own
# correctness gate, scripts/check.py.

def check_py():
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    return check


def oracle_check(out_dir, in_dir, tmp_dir):
    """{query: (ok, detail)} for every query result the harness dumped:
    hash-equal to the DuckDB oracle SQL on the same input, or non-empty
    where the query has no oracle SQL (unique_visitors_approx)."""
    import duckdb
    import pandas as pd
    check = check_py()
    odir = os.path.join(out_dir, "oracle")
    if not os.path.isdir(odir):
        return {}
    with open(os.path.join(odir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in glob.glob(os.path.join(in_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    res = {}
    for qdir in sorted(glob.glob(os.path.join(odir, "*/"))):
        q = os.path.basename(qdir.rstrip("/"))
        parts = glob.glob(os.path.join(qdir, "*.parquet"))
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        if q not in sqls:
            res[q] = (len(got) > 0, f"rows-only {len(got)}")
            continue
        try:
            exp = con.execute(sqls[q]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            res[q] = (False, f"oracle error {e}")
            continue
        g, e = check.canon(got), check.canon(exp)
        ok = (list(g.columns) == list(e.columns) and len(g) == len(e)
              and check.dtypes_of(g) == check.dtypes_of(e) and check.h(g) == check.h(e))
        res[q] = (ok, f"rows {len(g)} vs {len(e)}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no sbt build with sources at {ROOT}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bdir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                        "perfbench")
    os.makedirs(bdir, exist_ok=True)
    classpath = build(bdir)
    started = time.time()

    cores, heap = host()
    run_root = os.path.join(bdir, "tmp")
    os.makedirs(run_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=run_root)
    try:
        inputs, out, scratch = (os.path.join(tmp, d) for d in ("in", "out", "scratch"))
        for d in (out, scratch):
            os.makedirs(d)
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), a.workload,
                        str(a.seed), inputs], check=True, timeout=120)
        gen_s = time.time() - t0

        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_DRIVER_MEM=heap,
                   SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
        # the driver binds to the loopback address, whatever the host name resolves to
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
        env.pop("SPARK_GRAFT_STATE_STORE", None)
        java = (["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}",
                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
                 f"-Dderby.system.home={scratch}"]
                + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
                   "--in", inputs, "--out", out, "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--seed", str(a.seed), "--cores", str(cores)])
        t0 = time.time()
        ticks0 = cpu_ticks()
        log_path = os.path.join(tmp, "jvm.log")
        with open(log_path, "w") as log:
            try:
                code, _, _ = run_bounded(java, max(10, RUN_TIMEOUT_S - (time.time() - started)),
                                         cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                                         stdout=log, stderr=subprocess.STDOUT)
            except subprocess.TimeoutExpired:
                die("measured run timed out", 1)
        result_path = os.path.join(out, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                log = f.read()
            causes = [l for l in log.splitlines() if ("Exception" in l or "Error" in l)
                      and not l.lstrip().startswith("at ")]
            sys.stderr.write("\n".join(causes[:20]) + "\n" + log[-3000:])
            die(f"harness exited with {code}", 1)
        with open(result_path) as f:
            r = json.load(f)
        jvm_s = time.time() - t0
        (steal1, total1), (steal0, total0) = cpu_ticks(), ticks0

        attempted, failed = r["attempted"], r["failed"] + r["wrong"]
        errors = list(r["errors"])
        t0 = time.time()
        checks = oracle_check(out, inputs, os.path.join(scratch, "duckdb"))
        oracle_s = time.time() - t0
        execs = r["info"].get("executions", {})
        for q, (ok, detail) in checks.items():
            attempted += 1
            if not ok:
                # every execution returned this (digest-identical) result
                failed += 1 + execs.get(q, 0)
                errors.append(f"oracle mismatch {q}: {detail}")
        if a.trace and os.path.exists(os.path.join(out, "spans.jsonl")):
            os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}.jsonl"))

        declared = spec["per_layer"] if a.trace else spec["end_to_end"]
        values = r["per_layer"] if a.trace else r["metrics"]
        undeclared = set(values) - {m["name"] for m in declared}
        if undeclared:
            die(f"metrics not in BENCHMARK.json: {sorted(undeclared)}", 1)
        if not a.trace and (len(values) != len(declared) or None in values.values()):
            die("an end-to-end metric was not measured", 1)
        # a layer this workload does not exercise reports 0
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared}
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
                  "heap": heap, "gen_s": round(gen_s, 3),
                  "jvm_s": round(jvm_s, 3), "oracle_s": round(oracle_s, 3),
                  "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
                  "error_rate": failed / attempted, "oracle_checked": len(checks),
                  "errors": errors[:20], "end_to_end": r["metrics"], "info": r["info"]}
        print(json.dumps(report))
        print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
