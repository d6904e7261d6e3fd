#!/usr/bin/env python3
"""fastetlspark benchmark: ETL and query workloads with per-layer attribution.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cdc_sync|query_mix \
        --seed N --seconds S --trace 0|1 [--scale X]

The first run in a checkout builds the harness (perfbench/jvm, which
compiles the library's sources) with sbt. Each run generates its inputs
from the seed (gen.py, DuckDB), then launches one JVM that sets up, runs
the workload for S seconds and checks its outputs; this script compares
the outputs that have a DuckDB oracle, prints every metric with its
unit, and prints one JSON line last. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
ROOT = os.path.dirname(HERE)
JVM_DIR = os.path.join(HERE, "jvm")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("cdc_sync", "query_mix")
# input scale factor (fixture units: 0.1 = 150k orders)
SCALE = {"cdc_sync": 0.01, "query_mix": 0.001}
# the op kind whose latency is the workload's op_s_*
PRIMARY = {"cdc_sync": "load", "query_mix": "query"}
# the op kinds whose rows and seconds make rows_per_s
THROUGHPUT = {"cdc_sync": ("load", "refresh"), "query_mix": ("query",)}
# diagnosis knobs of the library's harnesses; a benchmark run never
# passes them on, and says so when they were set
KNOBS = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_LOAD_REPART", "SPARK_GRAFT_ONLY",
         "SPARK_GRAFT_GC", "SPARK_GRAFT_CHUNK")
MAX_CORES = 4
XMX = "3g"
RUN_LIMIT_S = 170  # a run (not its build) must end within this

PER_LAYER_UNITS = {
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.task_wait_s": "s", "spark.busy_ratio": "ratio",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.output_mb": "MB",
    "spark.scan_mb": "MB", "spark.driver_gap_s": "s",
    "tables.load_s": "s",
    "operators.watermark_s": "s", "operators.watermark_jobs": "count",
    "operators.plan_build_s": "s", "operators.copy_s": "s",
    "clean.chain_s": "s", "clean.consolidate_s": "s", "clean.qa_rows": "count",
    "clean.qa_per_input_row": "ratio",
    "core.commit_s": "s", "core.commit_driver_s": "s", "core.fs_ops": "count",
    "core.files_written": "count", "core.read_merged_s": "s",
    "core.versions_live": "count", "core.maintenance_s": "s",
    "meta.audit_s": "s", "meta.audit_rows": "count",
    "queries.fixpoint_s": "s", "queries.window_s": "s", "queries.relational_s": "s",
    "queries.fixpoint_jobs": "count", "queries.window_jobs": "count",
    "queries.relational_jobs": "count",
    "trace.spans": "count", "trace.traced_s": "s", "trace.untraced_s": "s",
    "trace.self_s": "s", "trace.overhead_ratio": "ratio",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # else: the directory the root build puts on its classpath
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def source_stamp():
    h = hashlib.sha256()
    for top in (LIB_SRC, JVM_DIR):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile the harness with sbt unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.sparkJars={spark_jars()}",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = subprocess.call(cmd, cwd=JVM_DIR, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}), log: {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, run_dir, deadline):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(run_dir, "jvm.args")
    with open(argfile, "w") as f:
        for p in opens:
            f.write(f"--add-opens\njava.base/{p}=ALL-UNNAMED\n")
        f.write(f"-Xms{XMX}\n-Xmx{XMX}\n-Xss16m\n-XX:+UseG1GC\n-XX:+AlwaysPreTouch\n-XX:-UsePerfData\n-Djava.io.tmpdir={tmp}\n")
        f.write(f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}\n")
        f.write("-Dspark.ui.enabled=false\n-cp\n" + json.dumps(cp) + "\n")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen([java, f"@{argfile}", "perfbench.Main"] + args, cwd=run_dir,
                             env=env, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc


def check_oracles(tasks):
    """Compare each output with its DuckDB oracle in the canonical form of
    the repo's correctness gate (scripts/check.py)."""
    if not tasks:
        return []
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    import pandas as pd
    from check import canon
    results = []
    cons = {}
    for t in tasks:
        d = t["inputDir"]
        if d not in cons:
            con = duckdb.connect()
            for name in sorted(os.listdir(d)):
                if name.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(d, name)}')")
            cons[d] = con
        try:
            got = canon(pd.read_parquet(t["output"]))
            exp = canon(cons[d].sql(t["sql"]).df())
            if got[0] != exp[0]:
                ok, detail = False, f"columns {got[0]} != {exp[0]}"
            elif got[1] != exp[1]:
                diff = sum(1 for a, b in zip(got[1], exp[1]) if a != b)
                ok, detail = False, (f"rows {len(got[1])} vs {len(exp[1])} expected, "
                                     f"{diff} differ")
            else:
                ok, detail = True, f"{len(got[1])} rows"
        except Exception as e:  # a failed comparison is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        results.append({"name": "oracle_" + t["name"], "ok": ok, "detail": detail})
    for con in cons.values():
        con.close()
    return results


def pct(xs, q):
    """q-th percentile (inclusive linear interpolation), q in (0, 100)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def make_inputs(workload, seed, scale, in_dir):
    """Generate the run's inputs; returns row counts of the timed tables."""
    import gen
    import duckdb
    if workload == "cdc_sync":
        d = os.path.join(in_dir, "cdc")
        gen.write(os.path.join(d, "main"), seed, scale, ("orders", "lineitem"), cdc=True)
        gen.write(os.path.join(d, "warm"), seed, scale / 10, ("orders", "lineitem"), cdc=True)
        gen.write(os.path.join(d, "dim"), seed, scale * 10, ("customer",))
        d = os.path.join(d, "main")
    else:
        d = os.path.join(in_dir, "q")
        gen.write(d, seed, scale)
        gen.write(os.path.join(in_dir, "qwarm"), seed, scale / 2)
    con = duckdb.connect()
    try:
        return {f[:-8]: con.sql(f"SELECT count(*) FROM '{os.path.join(d, f)}'").fetchone()[0]
                for f in sorted(os.listdir(d)) if f.endswith(".parquet")}
    finally:
        con.close()


def summarize(res, workload):
    """End-to-end metrics (generic, for every workload) and the named
    per-workload metrics. Returns (metrics, named): dicts of
    name -> (value, unit, samples)."""
    ops = res["ops"]
    lat = [o["seconds"] for o in ops if o["kind"] == PRIMARY[workload]]
    put = [o for o in ops if o["kind"] in THROUGHPUT[workload]]
    m = {
        "setup_s": (statistics.median(res["setup_s"]), "s", len(res["setup_s"])),
        "op_s_p50": (pct(lat, 50), "s", len(lat)),
        "op_s_p90": (pct(lat, 90), "s", len(lat)),
        "rows_per_s": (sum(o["rows"] for o in put) / sum(o["seconds"] for o in put),
                       "rows/s", len(put)),
        "pass_s": (statistics.median(res["passes"]), "s", len(res["passes"])),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    }
    named = {"setup_s": m["setup_s"], "peak_rss_mb": m["peak_rss_mb"]}
    if workload == "cdc_sync":
        named["load_rows_per_s"] = m["rows_per_s"]
        reads = [o["seconds"] for o in ops if o["kind"] == "read"]
        named.update({
            "load_s_p50": m["op_s_p50"], "load_s_p90": m["op_s_p90"],
            "read_s_p50": (pct(reads, 50), "s", len(reads)),
            "read_s_p90": (pct(reads, 90), "s", len(reads)),
            "space_amp": (res["extra"]["space_amp"], "ratio", 1)})
    if workload == "query_mix":
        named.update({"query_s_p50": m["op_s_p50"], "query_s_p90": m["op_s_p90"],
                      "query_mix_s": m["pass_s"]})
    return m, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float,
                    help="input scale factor (default: cdc_sync 0.01, query_mix 0.001)")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(JVM_DIR):
        fail(f"library sources not found under {ROOT}")

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp = ensure_built(bdir)

    start = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    flagged = sorted(k for k in os.environ if k in KNOBS)
    load_before = os.getloadavg()
    os.makedirs(os.path.join(bdir, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(bdir, "runs"))
    try:
        scale = SCALE[a.workload] if a.scale is None else a.scale
        t = time.monotonic()
        rows = make_inputs(a.workload, a.seed, scale, os.path.join(run_dir, "in"))
        gen_s = time.monotonic() - t
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--dir", run_dir, "--cores", str(cores),
                "--scale", str(scale),
                "--table-rows", ",".join(f"{k}={v}" for k, v in rows.items())]
        rc = run_jvm(cp, args, run_dir, start + RUN_LIMIT_S)
        result = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result):
            for log in ("jvm.out", "jvm.err"):
                with open(os.path.join(run_dir, log)) as f:
                    sys.stderr.write("".join(f.readlines()[-30:]))
            fail(f"benchmark JVM failed (rc={rc})")
        with open(result) as f:
            res = json.load(f)
        checks = res["checks"] + check_oracles(res["oracles"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()

    failed = sum(1 for c in checks if not c["ok"])
    ops = res["ops"] + res["traced_ops"]
    attempted = len(ops) + len(checks)
    correct = failed == 0

    env = {"nproc": nproc, "cores": cores, "xmx_mb": res["xmx_mb"],
           "loadavg_before": load_before, "loadavg_after": load_after,
           "flagged_env": flagged, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "workload": a.workload, "scale": scale, "gen_s": gen_s,
           "setup_samples_s": res["setup_s"], "jvm_start_s": res["jvm_start_s"],
           "prime_s": res["prime_s"]}
    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} cores={cores} nproc={nproc} xmx={XMX} "
          f"loadavg={load_before[0]:.2f}->{load_after[0]:.2f}")
    if flagged:
        print(f"flag: diagnosis knobs set and not passed on: {', '.join(flagged)}")

    if a.trace == 0:
        metrics, named = summarize(res, a.workload)
        named["fail_ratio"] = (failed / attempted, "ratio", attempted)
        for k, (v, unit, n) in named.items():
            print(f"metric {k} = {v:.6g} {unit} (n={n})")
        for k, (v, unit, n) in metrics.items():
            print(f"e2e {k} = {v:.6g} {unit} (n={n})")
        out = {k: {"value": v, "unit": unit} for k, (v, unit, _) in metrics.items()}
    else:
        layer = res["layer"]
        for k in PER_LAYER_UNITS:
            print(f"layer {k} = {layer.get(k, 0.0):.6g} {PER_LAYER_UNITS[k]}")
        out = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        metrics, named = {}, {}
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAIL'} ({c['detail']})")

    art_dir = os.path.join(bdir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump({"env": env, "metrics": out,
                   "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
                   "checks": checks, "ops": res["ops"], "passes": res["passes"],
                   "traced_ops": res["traced_ops"], "traced_passes": res["traced_passes"],
                   "layer": res["layer"], "extra": res["extra"], "spans": res["spans"]}, f)
    bad = [k for k, v in out.items() if not math.isfinite(v["value"])]
    print(f"summary workload={a.workload} seed={a.seed} correct={str(correct).lower()} "
          f"ops={len(ops)} checks={len(checks)} failed={failed} "
          f"artifact={os.path.relpath(art, ROOT)}")
    print(json.dumps({"correct": correct and not bad, "attempted": attempted,
                      "failed": failed, "metrics": out}, separators=(",", ":")))
    sys.exit(0 if correct and not bad else 1)


if __name__ == "__main__":
    main()
