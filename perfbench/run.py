#!/usr/bin/env python3
"""graft's benchmark: one workload per run, end-to-end or traced.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --pin

Run from the repository root. The first run builds the program and the
benchmark from source (perfbench/build.sbt) and writes the registry tables;
later runs reuse both while the sources are unchanged. Everything a run
writes goes under .perfbench_work/ at the root. See perfbench/README.md.

The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1 (their names and units are in BENCHMARK.json).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ["registry_floor", "connector_drain"]
# Registry tables at a tenth of the testdata's sf0.1 row counts (sf0.01).
DATA_SCALE = "0.1"
# connector_drain, per drain: testcoll 32 files of 625 events (8 epochs of
# 4 files), ordercoll 16 files (4 epochs, with before-images). Twice as many
# plain epochs keeps both the median and the 90th percentile inside one
# collection's cluster of epoch times, away from the gap between them.
DRAIN_FILES = {"testcoll": 32, "ordercoll": 16}
DRAIN_PER_FILE = 625
WARM_PER_FILE = 500
RUN_LIMIT_S = 170

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the root."""
    out = []
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
                "perfbench/src"]:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def build():
    """Compile program + benchmark with sbt; return the runtime classpath."""
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_file, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read()
    log = os.path.join(bdir, "sbt.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    # The build resolves nothing from the network: the Spark jars come from
    # the program's build, the rest from the local caches.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx4g" + (
            " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
            if os.path.exists(repos) else "")
    with open(log, "w") as lf:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
                           timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        with open(log, "a") as lf:
            lf.write(r.stdout)
        fail("build failed (rc=%d); see %s\n%s" % (r.returncode, log, "\n".join(lines[-20:])))
    open(cp_file, "w").write(cps[-1])
    open(stamp_file, "w").write(stamp)
    return cps[-1]


def java_cmd(cp, mode, kv, cpus):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    args = ["%s=%s" % (k, v) for k, v in sorted(kv.items())]
    return [java] + opens + [
        # A fixed heap and young generation: with G1 sizing the young
        # generation to its pause goal, the peak RSS of identical runs
        # spread by 15%.
        "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-cp", cp, "perfbench.Main", mode, "cpus=%s" % cpus] + args


def run_java(cmd, log, limit_s=None):
    """Run the JVM, stderr to `log`, killed after `limit_s`; return its stdout lines."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True)
        watchdog = threading.Timer(limit_s, p.kill) if limit_s else None
        if watchdog:
            watchdog.start()
        try:
            out = [line.rstrip("\n") for line in p.stdout]
            p.wait()
        finally:
            if watchdog:
                watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        tail = open(log).read().splitlines()[-30:]
        fail("JVM exited with %d; see %s\n%s" % (p.returncode, log, "\n".join(tail)))
    return out


def prep(cp, cpus):
    data = os.path.join(WORK, "data-" + DATA_SCALE)
    if not os.path.exists(os.path.join(data, "_DONE")):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
        run_java(java_cmd(cp, "prep", {"data": data, "scale": DATA_SCALE}, cpus),
                 os.path.join(WORK, "logs", "prep.log"))
        open(os.path.join(data, "_DONE"), "w").write("ok\n")
    return data


def feedgen(*args):
    subprocess.run([sys.executable, os.path.join(BENCH, "feedgen.py")] + [str(a) for a in args],
                   check=True, timeout=120)


def run_workload(a, cp, cpus, data):
    run = os.path.join(WORK, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", "%s-%d-trace%d.log" % (a.workload, a.seed, a.trace))
    kv = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace, "work": WORK, "data": data,
          "run": run, "pins": os.path.join(BENCH, "pins.json"),
          "config": os.path.join(ROOT, "conf", "config.sample.yaml")}
    if a.workload == "connector_drain":
        for c, files in DRAIN_FILES.items():
            feedgen("--seed", a.seed, "--salt", c, "--out", os.path.join(run, "feed", c),
                    "--files", files, "--per-file", DRAIN_PER_FILE)
            feedgen("--seed", a.seed, "--salt", "warm-" + c, "--out", os.path.join(run, "warmfeed", c),
                    "--per-file", WARM_PER_FILE)
            kv["events." + c] = files * DRAIN_PER_FILE
        kv.update(feed=os.path.join(run, "feed"), warmfeed=os.path.join(run, "warmfeed"))
    lines = run_java(java_cmd(cp, a.workload, kv, cpus), log, RUN_LIMIT_S)
    res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not res:
        fail("no result from the JVM; see " + log)
    shutil.rmtree(run, ignore_errors=True)
    return json.loads(res[-1][len("PERFBENCH_RESULT "):])


def pin(cp, cpus, data):
    """Record the registry queries' output fingerprints in pins.json, after
    tools/parity.py has matched the same queries' Spark output against the
    DuckDB oracle on the same tables."""
    out = run_java(java_cmd(cp, "pin", {"data": data}, cpus), os.path.join(WORK, "logs", "pin.log"))
    pins = json.loads([l for l in out if l.startswith("PERFBENCH_PINS ")][-1][len("PERFBENCH_PINS "):])
    parity = os.path.join(ROOT, "tools", "parity.py")
    r = subprocess.run([sys.executable, parity, data, os.path.join(WORK, "parity")] + sorted(pins),
                       cwd=ROOT, capture_output=True, text=True, timeout=1200)
    oracle = {}
    for line in r.stdout.splitlines():
        m = re.match(r"ok\s+(\S+) \((\d+) rows\)", line)
        if m:
            oracle[m.group(1)] = int(m.group(2))
    bad = [q for q in pins if oracle.get(q) != pins[q]["rows"]]
    if r.returncode != 0 or bad:
        fail("the DuckDB oracle does not match %s:\n%s" % (bad, (r.stdout + r.stderr)[-3000:]))
    doc = {"scale": float(DATA_SCALE),
           "oracle": "tools/parity.py matched all %d queries on these tables" % len(pins),
           "queries": pins}
    with open(os.path.join(BENCH, "pins.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print("pinned %d queries" % len(pins))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--pin", action="store_true")
    a = p.parse_args()
    if not a.pin and not a.workload:
        fail("--workload is required", 2)
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "conf/config.sample.yaml"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("run from a checkout of the repository: %s is missing" % need, 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cpus = str(len(os.sched_getaffinity(0)))
    cp = build()
    data = prep(cp, cpus)
    if a.pin:
        pin(cp, cpus, data)
        return
    t0 = time.time()
    r = run_workload(a, cp, cpus, data)
    r["notes"].append("workload run took %.1f s" % (time.time() - t0))

    values = dict(r["e2e"], peak_rss_mb=r["peak_rss_mb"]) if a.trace == 0 else r["layers"]
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    print("workload %s seed %d seconds %g trace %d" % (a.workload, a.seed, a.seconds, a.trace))
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            fail("metric %s was not measured" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print("  %-34s %14.4f %s" % (m["name"], v, m["unit"]))
    for n in r["notes"]:
        print("  note: " + n)
    correct = bool(r["checks_passed"]) and r["failed"] == 0
    print("  output check: %s; failed_ops_frac %g (%d of %d ops failed)" % (
        "passed" if correct else "FAILED", r["failed"] / r["attempted"], r["failed"], r["attempted"]))
    print(json.dumps({"correct": correct, "attempted": int(r["attempted"]), "failed": int(r["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
