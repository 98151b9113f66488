#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (once per source state),
generates the workload's inputs from the seed, runs one benchmark JVM on
fresh scratch directories, checks the outputs, and prints one JSON object
as the last line of standard output: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Human-readable progress goes to standard error; a traced run also leaves
its per-layer and per-call artifact in .perfbench/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = ".perfbench"
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")
# Spark on JDK 17 outside spark-submit (the program's build sets the same).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for s in SOURCES:
        if not os.path.exists(s):
            raise SystemExit("perfbench: %s not found; run from the repository root" % s)
        paths = [s] if os.path.isfile(s) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(s) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp()
    os.makedirs(WORK, exist_ok=True)
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building program and benchmark with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd="perfbench", stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def oracle_check(tables, out, names, deadline, procs=4):
    """DuckDB oracle through tools/selfcheck.py, the names split over
    `procs` concurrent checkers (each oracle query is mostly one thread);
    returns the failing names."""
    if not names:
        return []
    ps = [subprocess.Popen([sys.executable, "tools/selfcheck.py", tables, out] + names[i::procs],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           stdin=subprocess.DEVNULL) for i in range(min(procs, len(names)))]
    text = ""
    try:
        for p in ps:
            text += p.communicate(timeout=max(1, deadline - time.time()))[0]
    except subprocess.TimeoutExpired:
        log("oracle check timed out")
        for p in ps:
            p.kill()
            p.wait()
    ok = set(re.findall(r"^OK\s+(\S+)", text, re.M))
    for line in text.splitlines():
        if line.startswith("FAIL"):
            log("oracle " + line)
    return [n for n in names if n not in ok]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.N_DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    settings, e2e_units = config["settings"], config["end_to_end"]
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]

    cp = build()
    deadline = time.time() + settings["run_timeout_s"]
    run = os.path.abspath(os.path.join(WORK, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(run, ignore_errors=True)
    data, out, tmp, local = (os.path.join(run, d) for d in ("data", "out", "tmp", "local"))
    for d in (out, tmp, local):
        os.makedirs(d)
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, data)
        log("inputs generated in %.1f s" % (time.time() - t0))
        t0 = time.time()
        result = os.path.join(run, "result.json")
        # No hsperfdata file: the JVM would write it to /tmp, outside the run dirs.
        cmd = ["java", "-XX:-UsePerfData", "-Xms" + settings["heap"], "-Xmx" + settings["heap"],
               "-Djava.io.tmpdir=" + tmp]
        cmd += [x for p in OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
        cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
                "--data", data, "--out", out, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(settings["cores"]), "--result", result]
        conf = dict(settings["spark_conf"], **{"spark.local.dir": local})
        for k, v in conf.items():
            cmd += ["--conf", "%s=%s" % (k, v)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=local)
        logfile = os.path.join(WORK, "last-%s.log" % a.workload)
        with open(logfile, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env)
            try:
                p.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit("perfbench: benchmark JVM timed out; log in " + logfile)
        log("benchmark JVM ran %.1f s" % (time.time() - t0))
        with open(logfile) as lf:
            for line in lf:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        if p.returncode != 0 or not os.path.exists(result):
            raise SystemExit("perfbench: benchmark JVM failed (exit %d); log in %s"
                             % (p.returncode, logfile))
        with open(result) as f:
            r = json.load(f)
        attempted, failures = r["attempted"], list(r["failures"])
        if r["oracle"]:
            t0 = time.time()
            bad = oracle_check(os.path.join(data, "corpus"), os.path.join(out, "menu"), r["oracle"],
                               deadline)
            attempted += len(r["oracle"])
            failures += ["oracle mismatch: " + n for n in bad]
            log("oracle: %d of %d menu queries match DuckDB (%.1f s)"
                % (len(r["oracle"]) - len(bad), len(r["oracle"]), time.time() - t0))
        r["e2e"]["failed_share"] = len(failures) / max(1, attempted)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for k, v in r["e2e"].items():
            log("%-22s %14.6g %s" % (k, v, e2e_units[k][0]))
        if a.trace:
            artifact = os.path.join(WORK, "trace-%s-seed%d.json" % (a.workload, a.seed))
            with open(artifact, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "layers": r["layers"],
                           "spans": r["spans"], "end_to_end": r["e2e"]}, f, indent=1)
            log("traced artifact: " + artifact)
        values = r["layers"] if a.trace else r["e2e"]
        missing = [m for m in wanted if values.get(m) is None]
        if missing:
            raise SystemExit("perfbench: run reported no value for " + ", ".join(missing))
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {m: {"value": values[m], "unit": units[m]} for m in wanted},
        }))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
