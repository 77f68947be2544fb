#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <name|all> --seed <n> [--seconds <s>] [--trace 0|1]
  python3 perfbench/run.py compare <baseline.jsonl> <candidate.jsonl>

A run builds the engine and the runner from source when they changed,
makes the workload's inputs, starts one JVM (set-up, a cold pass, timed
passes), checks every result after the JVM has exited, and prints the
metrics; the last line of standard output is one JSON object. Each run's
record, with its environment, is appended to .perfbench/results.jsonl.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# metrics a run prints beside those BENCHMARK.json lists: failed_ratio
# travels in the result line's failed/attempted, and records_per_s (the
# reference pipeline's fixed input over pass_s) is pass_s's inverse
UNLISTED_UNITS = {"failed_ratio": "ratio", "records_per_s": "1/s"}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(msg):
    log("error: " + msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "resources"),
            os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for r, _, fs in os.walk(d):
            files += [os.path.join(r, f) for f in fs]
    return sorted(files)


def build():
    """Compile the engine and the runner when any source changed; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources under src/main/scala; run from the repository root")
    h = hashlib.sha256()
    for f in _sources():
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "perfbench")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine + runner (sbt)")
    env = dict(os.environ, PERFBENCH_BUILD_DIR=BUILD, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx2g"
                   % os.path.expanduser("~/.sbt/repositories"))
    t = time.time()
    runner = os.path.join(out, "scala-2.13", "classes", "perfbench", "Runner.class")
    for tasks in (["compile"], ["clean", "compile"]):  # a clean build if incremental output is incomplete
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks +
                           ["export Runtime/fullClasspath"], cwd=HERE, env=env,
                           capture_output=True, text=True, timeout=850)
        lines = r.stdout.strip().splitlines()
        if r.returncode == 0 and lines and os.path.exists(runner):
            break
    else:
        sys.stderr.write("\n".join((r.stdout + r.stderr).splitlines()[-40:]) + "\n")
        die("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t))
    return lines[-1].strip()


def java_cmd(classpath, tmp, heap="3g"):
    """The JVM command line. C1 only: in a JVM that lives a minute, C2
    compilations overlap the timed passes; they widened the run-to-run
    spread of pass_s from 8 % to 24 % (see README.md)."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    return (["java"] + opens +
            ["-XX:TieredStopAtLevel=1", "-Xmx" + heap, "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", classpath])


# --------------------------------------------------------------- inputs

def testdata(sf):
    d = os.path.join(TESTDATA, sf)
    if not all(os.path.exists(os.path.join(d, t + ".parquet")) for t in check.TABLES):
        die("testdata tables not found under %s" % d)
    return d


def replica(classpath, copies):
    """The N-copy graft.tools.ScaleUp replica of sf0.1, built once per
    checkout (it depends on no seed)."""
    dst = os.path.join(STATE, "inputs", "sf0.1x%d" % copies)
    if os.path.isdir(dst):
        return dst
    log("building the %d-copy replica of sf0.1" % copies)
    tmp = dst + ".tmp%d" % os.getpid()
    os.makedirs(tmp + "-jvm", exist_ok=True)
    r = subprocess.run(java_cmd(classpath, tmp + "-jvm") + ["graft.tools.ScaleUp", testdata("sf0.1"),
                                                            tmp, str(copies)],
                       capture_output=True, text=True, timeout=300)
    shutil.rmtree(tmp + "-jvm", ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        shutil.rmtree(tmp, ignore_errors=True)
        die("replica build failed")
    os.replace(tmp, dst)
    return dst


# ------------------------------------------------------------------ run

def _cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_one(name, seed, seconds, trace, classpath):
    """One run of one workload. Its time budget starts here, after the
    build."""
    started = time.time()
    wl = workloads.WORKLOADS[name]
    run_dir = os.path.join(STATE, "runs", "%s-seed%d-%d" % (name, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    artifacts = os.path.join(run_dir, "artifacts")
    for d in (work, tmp, artifacts):
        os.makedirs(d)
    args = ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--out", os.path.join(run_dir, "record.json")]
    truths = {}
    if name == "reference_pipeline":
        gkg_path, html_dir = os.path.join(run_dir, "gkg.jsonl"), os.path.join(run_dir, "html")
        truths["gkg"] = gen.gkg(gkg_path, seed, wl["gkg_rows"], wl["gkg_other_share"])
        truths["html"] = gen.html(html_dir, seed, wl["html_pages"])
        data = run_dir
        args += ["--gkg", gkg_path, "--html", html_dir,
                 "--records", str(truths["gkg"]["records"] + truths["html"]["records"])]
    else:
        data = replica(classpath, wl["copies"]) if wl.get("copies") else testdata("sf0.1")
        args += ["--queries", ",".join(wl["queries"])]
    args += ["--data", data]
    traces = os.path.join(STATE, "traces")
    if trace:
        os.makedirs(traces, exist_ok=True)
        args += ["--spans", os.path.join(traces, "%s-seed%d.jsonl" % (name, seed))]
    env = dict(os.environ, GRAFT_ARTIFACT_ROOT=artifacts)
    budget = max(30, RUN_LIMIT_S - (time.time() - started))
    jvm_log = os.path.join(run_dir, "jvm.log")
    ticks0 = _cpu_ticks()
    try:
        with open(jvm_log, "w") as lf:
            r = subprocess.run(java_cmd(classpath, tmp) + ["perfbench.Runner"] + args,
                               cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=budget)
    except subprocess.TimeoutExpired:
        r = None
    with open(jvm_log) as lf:
        progress = [l.rstrip() for l in lf if l.startswith("[perfbench]")]
    for l in progress:
        print(l, file=sys.stderr)
    record_path = os.path.join(run_dir, "record.json")
    if r is None or r.returncode != 0 or not os.path.exists(record_path):
        with open(jvm_log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        shutil.rmtree(run_dir, ignore_errors=True)
        die("the JVM run %s" % ("timed out" if r is None else "failed (exit %d)" % r.returncode))
    with open(record_path) as f:
        record = json.load(f)
    ticks1 = _cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run
        record["env"]["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])

    # checks, outside the measured process; a cold-pass result that
    # disagrees with its oracle or truth fails that pass-0 operation
    t_check = time.time()
    failures = [(f["op"], f["pass"], f["error"]) for f in record["failures"]]
    if name == "reference_pipeline":
        checked = check.check_pipeline(record["results"], truths["gkg"], truths["html"])
    else:
        oracle = check.Oracle(data, os.path.join(STATE, "oracle"), artifacts)
        checked = check.check_queries(oracle, os.path.join(work, "results"),
                                      record["oracles"], wl["queries"])
    failures += [(op, 0, msg) for op, msg in checked]
    log("checks took %.1f s" % (time.time() - t_check))
    shutil.rmtree(run_dir, ignore_errors=True)
    record["failed"] = len({(op, p) for op, p, _ in failures})
    record["check_failures"] = ["%s pass %d: %s" % f for f in failures]
    record["metrics"]["failed_ratio"] = record["failed"] / record["attempted"]
    return record


def emit(record, bench, trace):
    """Print the metric table and the result line."""
    spec = bench["per_layer"] if trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(UNLISTED_UNITS)
    metrics = {}
    for m in spec:
        if m["name"] not in record["metrics"]:
            die("metric %s missing from the run record" % m["name"])
        metrics[m["name"]] = {"value": record["metrics"][m["name"]], "unit": m["unit"]}
    for k, v in sorted(record["metrics"].items()):
        if k in metrics or k == "failed_ratio" or not trace:
            print("%-32s %14.6g %s" % (k, v, units.get(k, "s")))
    for f in record["check_failures"]:
        print("FAILED " + f)
    print("failed_ratio %d/%d" % (record["failed"], record["attempted"]))
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    sys.stdout.flush()


def save(record, stamp):
    record["checkout"] = stamp
    record["finished_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    record["env"]["host_loadavg_end"] = os.getloadavg()[0]
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def main(argv):
    if argv and argv[0] == "compare":
        import compare
        return compare.main(argv[1:])
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        die("BENCHMARK.json not found; run from the repository root")
    with open(bench_path) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    names = list(workloads.WORKLOADS) if a.workload == "all" else [a.workload]
    for n in names:
        if n not in workloads.WORKLOADS:
            die("unknown workload %s (have: %s)" % (n, ", ".join(workloads.WORKLOADS)))
    classpath = build()
    for n in names:
        record = run_one(n, a.seed, seconds, a.trace == 1, classpath)
        with open(os.path.join(BUILD, "perfbench", "stamp")) as f:
            save(record, f.read()[:16])
        if len(names) > 1:
            print("== %s" % n)
        emit(record, bench, a.trace == 1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
