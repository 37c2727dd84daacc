#!/usr/bin/env python3
"""Benchmark driver for the engine: builds it from this checkout, generates
the fixtures, runs one workload in one JVM and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Everything it builds or writes goes under
`.bench_build/` there. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the `end_to_end`
metrics of BENCHMARK.json with `--trace 0`, its `per_layer` metrics with
`--trace 1`. Lines above it give every metric measured and the run's
context (host, seed, load, lateness).

Two maintenance modes:

    python3 perfbench/run.py --record            # re-record expected digests
    python3 perfbench/run.py --selfcheck         # sf0.001 harness self-check
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# Fixed heap: a heap that grows and shrinks around each quiesce GC bills
# the resizing to whichever pass triggers it. ParallelGC as in build.sbt.
HEAP = "2g"
GC = "-XX:+UseParallelGC"

WORKLOADS = ("serve_replay", "curate_docs")
BATCH = ("curate_docs",)
SF = "0.1"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"error: {msg}")
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt (offline) once per
    source state; returns the runtime classpath."""
    srcs = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    stamp = tree_hash(srcs)
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building engine and harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + (
        " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
        f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}")
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(build_log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and "classes" in l and os.pathsep in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {build_log})")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


def fixtures(sf, base=None):
    """Generates the fixture tables for scale `sf` once per generator version."""
    base = base or os.path.join(BUILD, "data")
    out = os.path.join(base, f"sf{sf}")
    stamp_file = os.path.join(out, ".stamp")
    stamp = tree_hash(["perfbench/gen_data.py"]) + sf
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log(f"generating fixtures at sf{sf} ...")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), out, sf],
                   check=True, stdin=subprocess.DEVNULL)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, data, expected, record=None):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    jvm = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=1g",
        GC,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--data", data, "--work", work,
        "--cpus", str(cpus()), "--expected", expected, "--out", out]
    if record:
        jvm += ["--record", record]
    proc = subprocess.Popen(jvm, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S if not record else 1800)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload}: JVM did not finish in {RUN_TIMEOUT_S} s")
    if code != 0:
        fail(f"{workload}: JVM exited with {code}")
    if record:
        shutil.rmtree(work, ignore_errors=True)
        return None
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return res


def expected_file(sf):
    return os.path.join(HERE, "expected", f"sf{sf}.tsv")


def contract():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def result_line(res, names):
    missing = [n for n in names if n not in res["metrics"] or res["metrics"][n]["value"] is None]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    return {
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: res["metrics"][n] for n in names},
    }


def print_report(res):
    for k, v in res["context"].items():
        print(f"[context] {k} = {v}")
    for k, v in res["metrics"].items():
        print(f"[metric] {k} = {v['value']} {v['unit']}")
    for e in res["errors"][:20]:
        print(f"[error] {e}")


def check_checkout():
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} is missing: run from the root of a full checkout", 2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH", 2)


def record():
    cp = build()
    for w in BATCH:
        log(f"recording expected outputs of {w} at sf{SF}")
        os.makedirs(os.path.dirname(expected_file(SF)), exist_ok=True)
        run_jvm(cp, w, 0, 1, False, fixtures(SF), "", record=expected_file(SF))


def selfcheck():
    """Runs every workload briefly at sf0.001 against digests recorded on
    the spot, checks that every contract metric prints with its unit and
    no error, then corrupts one digest and checks that error_rate rises."""
    spec = contract()
    cp = build()
    base = os.path.join(BUILD, "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    data = fixtures("0.001", base)
    exp = os.path.join(base, "expected.tsv")
    run_jvm(cp, BATCH[0], 0, 1, False, data, "", record=exp)
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            res = run_jvm(cp, w, 1, 1, trace, data, exp)
            line = result_line(res, names)
            for n in names:
                if line["metrics"][n]["unit"] != units[n]:
                    problems.append(f"{w}/trace{trace}: {n} has unit {line['metrics'][n]['unit']}")
            if res["metrics"]["error_rate"]["value"] != 0 or not line["correct"]:
                problems.append(f"{w}/trace{trace}: errors {res['errors'][:3]}")
            log(f"selfcheck {w} trace={trace}: {len(names)} metrics, "
                f"error_rate={res['metrics']['error_rate']['value']}")
    with open(exp) as f:
        lines = f.read().splitlines()
    victim = next(i for i, l in enumerate(lines) if "\texact\t" in l)
    q = lines[victim].split("\t")[0]
    rows, lo, hi = lines[victim].split("\t")[2].split(":")
    lines[victim] = f"{q}\texact\t{rows}:{int(lo) + 1}:{hi}"
    with open(exp, "w") as f:
        f.write("\n".join(lines) + "\n")
    res = run_jvm(cp, BATCH[0], 1, 1, False, data, exp)
    er = res["metrics"]["error_rate"]["value"]
    if er > 0 and any(q in e for e in res["errors"]):
        log(f"selfcheck corrupted digest of {q}: error_rate={er} (raised, as it must)")
    else:
        problems.append(f"corrupted digest of {q} did not raise error_rate ({er})")
    for p in problems:
        log(f"selfcheck FAIL: {p}")
    print("selfcheck " + ("FAIL" if problems else "PASS"))
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    check_checkout()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    if a.record:
        return record()
    if a.selfcheck:
        return selfcheck()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}", 2)
    spec = contract()
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    cp = build()
    data = fixtures(SF)
    t0 = time.time()
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, expected_file(SF))
    res["context"]["run_wall_s"] = f"{time.time() - t0:.1f}"
    res["context"]["sf"] = SF
    print_report(res)
    print(json.dumps(result_line(res, names)), flush=True)


if __name__ == "__main__":
    main()
