#!/usr/bin/env python3
"""Benchmark command for iconspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark program
from source on first use (sbt, offline), runs the workload in one JVM and
prints, as the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer metrics.
Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, "work")          # build stamp, first-run digests, run history
RUN_LIMIT_S = 170                            # whole invocation, build excluded
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")
    return p.returncode, out, err


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/spark-submit is on PATH
    and which ships its jars (a pip-installed pyspark launcher does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
                return home
    fail("set SPARK_HOME to a Spark 4.1 install")


def build():
    """Compiles with sbt once per source state; returns the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SPARK_HOME"] = spark_home()
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
        code, out, err = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"], 600, cwd=HERE, env=env)
        lines = [l for l in out.splitlines() if l and not l.startswith("[")]
        if code != 0 or not lines:
            sys.stderr.write(out[-4000:] + err[-4000:])
            fail("build failed")
        cp = lines[-1]
        # class-data archive of Spark's start-up classes: cuts JVM + session
        # start by about 5 s on a 4-core VM
        jsa = os.path.join(STATE, "app.jsa")
        if os.path.exists(jsa):
            os.remove(jsa)
        code, _, err = run_group(jvm_cmd(cp, [f"-XX:ArchiveClassesAtExit={jsa}"])
                                 + ["perfbench.Warm", os.path.join(STATE, "warm")], 300, cwd=ROOT)
        if code != 0:
            sys.stderr.write(err[-4000:])
            fail("class-data archive run failed")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def jvm_cmd(cp, flags):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"] + flags + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(STATE, "jvm", "tmp"),
        "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    os.makedirs(os.path.join(STATE, "jvm", "tmp"), exist_ok=True)
    return cmd + ["-cp", cp]


def run_jvm(cp, args, deadline):
    jsa = os.path.join(STATE, "app.jsa")
    cmd = jvm_cmd(cp, [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    cmd += ["perfbench.Main"] + args + ["--work", os.path.join(STATE, "jvm", "run")]
    code, out, err = run_group(cmd, max(10.0, deadline - time.time()), cwd=ROOT)
    line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH ")), None)
    if code != 0 or line is None:
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM exited with code {code} and no result")
    return json.loads(line[len("PERFBENCH "):])


def load(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def save(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def check(workload, seed, attempts):
    """Returns (attempted, failed). An attempt fails on a thrown error or a
    digest that differs from the recorded one: expected.json for the seeds
    recorded there, else the first run of this seed in this checkout."""
    expected = load(os.path.join(HERE, "expected.json"), {}).get(workload, {}).get(str(seed))
    firsts_path = os.path.join(STATE, "first-runs.json")
    firsts = load(firsts_path, {})
    ref = expected if expected is not None else firsts.setdefault(workload, {}).setdefault(str(seed), {})
    failed = 0
    for a in attempts:
        if a["error"] is not None:
            print(f"perfbench: {a['key']} failed: {a['error']}", file=sys.stderr)
            failed += 1
        elif a["key"] not in ref:
            ref[a["key"]] = a["signature"]
        elif ref[a["key"]] != a["signature"]:
            print(f"perfbench: {a['key']} output {a['signature']} != recorded {ref[a['key']]}",
                  file=sys.stderr)
            failed += 1
    # a recorded unit that did not run is a failed attempt
    missing = set(ref) - {a["key"] for a in attempts}
    if missing:
        print(f"perfbench: recorded units did not run: {sorted(missing)}", file=sys.stderr)
    if expected is None:
        save(firsts_path, firsts)
    return len(attempts) + len(missing), failed + len(missing)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from a checkout of the repository: BENCHMARK.json and src/main/scala are needed")
    spec = load(spec_path, None)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    hist_path = os.path.join(STATE, "history.json")
    history = load(hist_path, {})
    # the tracing overhead compares with untraced runs of the same seed, else
    # of any seed (same input sizes), else with an untraced run made now
    by_seed = history.get(a.workload, {})
    past = by_seed.get(str(a.seed)) or [x for runs in by_seed.values() for x in runs]
    if a.trace and not past:
        past = [run_jvm(cp, jargs + ["--trace", "0"], deadline)["run_s"]]
    r = run_jvm(cp, jargs + ["--trace", str(a.trace)], deadline)
    walls = " ".join(f"{x['wall_s']:.2f}" for x in r["attempts"])
    print(f"perfbench: session {r['session_s']:.2f} s, staging {r['stage_s']:.2f} s (median), "
          f"warm-up {r['warmup_s']:.2f} s, units [{walls}]", file=sys.stderr)
    attempted, failed = check(a.workload, a.seed, r["attempts"])

    if a.trace:
        values = dict(r["layers"])
        values["trace.overhead_s"] = r["run_s"] - statistics.median(past)
        defs = spec["per_layer"]
    else:
        history.setdefault(a.workload, {}).setdefault(str(a.seed), []).append(r["run_s"])
        save(hist_path, history)
        values = {
            "setup_s": r["setup_s"],
            "run_s": r["run_s"],
            "records_per_s": r["records"] / r["run_s"],
            "output_rows_per_s": r["outputs"] / r["run_s"],
            "driver_heap_mb": r["driver_heap_mb"],
            "ok_frac": (attempted - failed) / attempted,
        }
        defs = spec["end_to_end"]
    unknown = set(values) - {d["name"] for d in defs}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {d["name"]: {"value": float(values.get(d["name"], 0.0)), "unit": d["unit"]}
               for d in defs}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
