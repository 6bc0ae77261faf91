#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload audit_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source
(once per source state, into .bench_build/), generates the seeded inputs
(.bench_data/), runs one benchmark process for the workload, checks the
program's outputs, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans are left in .bench_out/<run>/spans.jsonl.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {"audit_cold": "audit", "iterate_loops": "loops"}

END_TO_END = {"setup_s": "s", "req_geomean_s": "s", "req_per_min": "1/min", "resident_mb": "MB"}

AUDIT_CHAIN = ["audit.ma_features", "audit.ma_fingerprint", "audit.ma_fp_compare",
               "audit.ma_dli_signature", "audit.ma_dli_bigrams", "audit.ma_dli_compare",
               "style.ma_style_scores", "style.ma_audit", "style.ma_verify", "reef.ma_reef_cka"]
LOOPS = ["graph.gr_pagerank", "graph.gr_ppr", "graph.gr_hits", "graph.gr_lpa", "graph.gr_kcore",
         "dedup.dd_clusters"]
BUILDS = ["pagerank_edges", "coorder_edges_45", "dedup_edges"]
LAYERS = ["functions", "tables", "audit", "style", "reef", "graph", "dedup", "memo"]


def per_layer_names():
    names = ["functions.markers_mb_per_s", "functions.bigrams_mb_per_s",
             "tables.input_mb", "tables.respread_shuffle_mb"]
    for e in AUDIT_CHAIN + LOOPS:
        names += [f"{e}.{q}" for q in ("construct_s", "plan_s", "execute_s", "jobs", "shuffle_mb")]
    for b in BUILDS:
        names += [f"memo.{b}.build_s", f"memo.{b}.mb"]
    names += ["memo.audit_chain.mb", "spark.busy_frac", "spark.gc_s", "spark.stages_per_req",
              "spark.jobs_per_req", "trace.req_geomean_s"]
    names += [f"{l}.self_s" for l in LAYERS]
    return names


def unit(name):
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("busy_frac"):
        return "ratio"
    return "count"


# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives; the program's own
# build passes the same list to its forked runs).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/scala"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256(ROOT.encode())
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    out = os.path.join(ROOT, ".bench_build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log("building the program and the benchmark (sbt compile)")
    with open(os.path.join(out, "build.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL,
            text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 2
    return max(1, n - 1)  # one core stays free for the JVM's own threads


def run_jvm(cp, workload, seconds, trace, dirs, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java", *OPENS, "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main", workload, str(seconds), str(trace), str(slots()),
           out, dirs.get("audit", "-"), dirs.get("loops", "-")]
    with open(os.path.join(out, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("benchmark process timed out; see jvm.log")
    if rc != 0:
        raise SystemExit(f"benchmark process exited {rc}; see {os.path.join(out, 'jvm.log')}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources here: run from the root of a graft checkout")

    cp = build()
    corpora = [WORKLOADS[a.workload]]
    if a.trace:  # the traced sweep reaches every layer, so it needs both corpora
        corpora = ["audit", "loops"]
    dirs = {}
    for c in corpora:
        dirs[c] = os.path.join(ROOT, ".bench_data", f"{c}-{a.seed}")
        gen.generate(c, a.seed, dirs[c])

    out = os.path.join(ROOT, ".bench_out", f"{a.workload}-{a.seed}-t{a.trace}")
    res = run_jvm(cp, a.workload, a.seconds, a.trace, dirs, out)

    problems = check.check(a.workload, dirs[WORKLOADS[a.workload]], os.path.join(out, "check"), res)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    got = res["metrics"]
    names = per_layer_names() if a.trace else list(END_TO_END)
    missing = [n for n in names if got.get(n) is None]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    units = END_TO_END if not a.trace else {n: unit(n) for n in names}
    result = {
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": got[n], "unit": units[n]} for n in names},
    }
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
