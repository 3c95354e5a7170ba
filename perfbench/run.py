#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build graft and the harness from source (cached by source
hash under .perfbench/build), generate the workload's inputs (cached by
seed under .perfbench/data), run the JVM harness, check every op's
output against its DuckDB oracle with the repo's own compare
(tools/check.py), and print the report. The last line of
standard output is the report: one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end set, with --trace 1 the per-layer set. Diagnostics that are
not metrics are printed on the line before it. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CPUS = 2           # local[2]: the closed loop's fixed executor width; see README § Steadiness
HEAP = "3g"
YOUNG = "512m"     # a fixed young generation keeps heap growth, and so peak RSS, repeatable
JVM_TIMEOUT_S = 160
# One timed pass over a workload's ops takes about this long on the
# reference box (4 cores, canary_st_s ~0.4 s). --seconds is turned into
# a fixed pass count with it, so that every run, on any host, times the
# same executions.
PASS_S = 4.0

E2E = [("setup_s", "s"), ("run_s", "s"), ("query_p50_s", "s"),
       ("query_p90_s", "s"), ("cpu_s", "s")]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the repo's build compiles against: the
    `unmanagedBase` of build.sbt, else $SPARK_HOME/jars."""
    build = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(build):
        fail("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("src/main/scala holds no sources: run from the root of a graft checkout")
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, res, bench


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=ROOT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compile failed ({out})")


def build(jars):
    """Compile graft's main sources and the harness; cached by a hash of
    every input file, so a checkout builds once."""
    main, res, bench = sources()
    h = hashlib.sha256()
    for p in main + res + bench + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    out = os.path.join(STATE, "build", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    scalac(jars, None, os.path.join(tmp, "graft"), main)
    for p in res:
        dst = os.path.join(tmp, "graft", os.path.relpath(p, os.path.join(ROOT, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(jars, os.path.join(tmp, "graft"), os.path.join(tmp, "bench"), bench)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def run_harness(jars, classes, workload, data, seed, passes, trace):
    work = os.path.join(STATE, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "graft"),
                          os.path.join(jars, "*")])
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness", workload, data, work,
            str(passes), str(trace), str(seed), str(CPUS)])
    # graft reads tuning knobs from SPARK_GRAFT_* variables: a run must
    # not inherit them from the caller's shell
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               cwd=work, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
    result = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness exited with {r.returncode}")
    return work, json.load(open(result))


def check_outputs(data, out):
    """Names of the ops whose output differs from their oracleSql result
    in DuckDB, by the repo's correctness compare (tools/check.py)."""
    check = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(check):
        fail("tools/check.py not found: run from the root of a graft checkout")
    r = subprocess.run([sys.executable, check, data, out], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, cwd=ROOT,
                       env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    bad = set(re.findall(r"^\s*\[FAIL-[a-z]+\s*\] (\S+):", r.stdout, re.M))
    if r.returncode != 0:
        sys.stderr.write("".join(l + "\n" for l in r.stdout.splitlines() if "FAIL" in l))
        if not bad:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"tools/check.py exited with {r.returncode}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    load_start = loadavg()
    jars = spark_jars()
    classes = build(jars)
    t0 = time.time()
    data = gen.ensure(STATE, a.workload, a.seed)
    t1 = time.time()
    passes = max(2, round(a.seconds / PASS_S))
    work, res = run_harness(jars, classes, a.workload, data, a.seed, passes, a.trace)
    t2 = time.time()
    mismatches = check_outputs(data, os.path.join(work, "out"))
    mismatches -= set(res["diag"]["failed_ops"])  # already counted by the harness

    attempted = res["attempted"]
    failed = res["failed"] + len(mismatches)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E}
    diag = dict(res["diag"])
    diag.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "error_rate": failed / attempted,
        "oracle_mismatches": sorted(mismatches),
        "doc_duplicate_fraction": gen.duplicate_fraction(data),
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "gen_s": t1 - t0, "harness_s": t2 - t1, "oracle_s": time.time() - t2})
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.slot_util", "trace.coverage_gap", "pipeline.sim_rows_per_result"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
