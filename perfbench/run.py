#!/usr/bin/env python3
"""Build graft and its benchmark from source, then run one workload.

    python3 perfbench/run.py --workload gql_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. build.py compiles the engine and the
benchmark into the build directory ($CARGO_TARGET_DIR, default
.bench_build); the sf tables are generated there on first use. Every run works under its own
scratch root inside the build directory and removes it when it ends.

The last line of standard output is the JSON result; the lines before it
list the run environment and every metric with its unit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
from build import HERE, HOME, build, build_dir, fail, spark_jars  # noqa: E402

WORKLOADS = ("gql_read", "gql_write", "corpus_ingest")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    """The checkout's commit when it is a git work tree, else "none"."""
    if not os.path.exists(os.path.join(HOME, ".git")):
        return "none"
    r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=HOME,
                       capture_output=True, text=True)
    return r.stdout.strip() or "none"


def jvm(out, classes, digest, args, root, timeout):
    """Run the benchmark main in its own scratch root; returns (code, stdout)."""
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
              "perfbench.Main", "--out", out, "--root", root, "--digest", digest,
              "--commit", git_commit()]
           + args)
    proc = subprocess.Popen(cmd, cwd=HOME, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        stdout = ""
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    return proc.returncode, stdout


def ensure_data(out, classes, digest, sf):
    marker = os.path.join(out, "data", f".ready-sf{sf}-{digest}")
    if os.path.exists(marker):
        return
    code, _ = jvm(out, classes, digest, ["--gen-data", "1", "--sf", str(sf)],
                  os.path.join(out, "runs", f"gen-{os.getpid()}"), 900)
    if code != 0:
        fail("data generation failed")
    open(marker, "w").close()


def run(out, classes, digest, workload, seed, seconds, trace, sf, timeout):
    root = os.path.join(out, "runs", f"{workload}-{seed}-{os.getpid()}")
    code, stdout = jvm(out, classes, digest,
                       ["--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace),
                        "--sf", str(sf)], root, timeout)
    lines = stdout.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if code != 0 or not result:
        return None, lines
    return json.loads(result[-1]), [l for l in lines if l not in result]


def selftest(out, classes, digest):
    """A few ops of every workload at sf0.001 on two seeds, traced, so both
    the end-to-end and the per-layer sets are computed; fails if a metric
    is missing, a correctness gate fails or fail_frac is nonzero."""
    spec = json.load(open(os.path.join(HOME, "BENCHMARK.json")))
    want_e2e = {m["name"] for m in spec["end_to_end"]}
    want_layer = {m["name"] for m in spec["per_layer"]}
    sf = 0.001
    ensure_data(out, classes, digest, sf)
    bad = []
    for w in WORKLOADS:
        for seed in (1, 2):
            res, lines = run(out, classes, digest, w, seed, 1, 1, sf, RUN_TIMEOUT_S)
            named = {l.split()[1] for l in lines if l.startswith("metric ")}
            frac = [float(l.split()[2]) for l in lines if l.startswith("metric fail_frac ")]
            problems = []
            if res is None:
                problems.append("no result")
            else:
                if not res["correct"] or res["failed"]:
                    problems.append(f"{res['failed']}/{res['attempted']} ops failed")
                missing = (want_layer - set(res["metrics"])) | (want_e2e - named)
                if missing:
                    problems.append(f"missing metrics {sorted(missing)}")
            if frac != [0.0]:
                problems.append(f"fail_frac {frac}")
            units = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
            for m in spec["end_to_end"] + spec["per_layer"]:
                if m["name"] in units and units[m["name"]] != m["unit"]:
                    problems.append(f"{m['name']} unit {units[m['name']]} != {m['unit']}")
            status = "ok" if not problems else "; ".join(problems)
            print(f"selftest {w} seed {seed}: {status}")
            if problems:
                bad.append((w, seed))
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classes, digest = build(out)
    if a.selftest:
        sys.exit(selftest(out, classes, digest))
    if not a.workload:
        fail("--workload is required")
    ensure_data(out, classes, digest, a.sf)
    res, lines = run(out, classes, digest, a.workload, a.seed, a.seconds,
                     a.trace, a.sf, RUN_TIMEOUT_S)
    for l in lines:
        print(l)
    if res is None:
        fail("run failed")
    print(json.dumps(res))
    sys.exit(0)


if __name__ == "__main__":
    main()
