#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload oltp_read --seed 1 --seconds 10 --trace 0

Builds this sbt package (the service's sources plus the benchmark program)
when its classpath file is missing or older than a source, launches the
benchmark JVM, and prints the result as the last line of stdout: one JSON
object with `correct`, `attempted`, `failed` and `metrics`. `--trace 0`
reports BENCHMARK.json's end_to_end metrics, `--trace 1` its per_layer
ones. Everything the run writes stays under `.perfbench/` in the checkout.
The analytic workload reads the sf0.1 tables TESTDATA.md lists
(PERFBENCH_SF_DIR overrides).

    python3 perfbench/run.py --read FILE

prints the result held in FILE: a result file, or a log whose last JSON
line may carry sbt's `[info] ` prefix.
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SERVICE_SRC = os.path.join(ROOT, "src", "main", "scala")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
OUT = os.path.join(ROOT, ".perfbench")
TESTDATA = os.path.join(ROOT, "TESTDATA.md")
RUN_TIMEOUT_S = 170
# A run's JVM lives under a minute. On the OLTP request path, C2's compiler
# threads then compete with the four cores for the whole timed loop, and
# identical oltp_read runs differed by up to 20% in throughput; with C1
# alone (6% apart) the JVM settles during set-up. Spark's generated code
# for the analytic scans needs C2: under C1 alone analytic reads took twice
# as long and spread wider.
JIT = {"oltp_read": ["-XX:TieredStopAtLevel=1"], "oltp_mixed": [],
       "analytic": []}
SBT_PREFIXES = ("[info] ", "[error] ", "[warn] ", "[success] ")


def strip_sbt_prefix(line):
    """sbt prefixes a forked program's output lines with its log level."""
    for p in SBT_PREFIXES:
        if line.startswith(p):
            return line[len(p):]
    return line


def last_json(text):
    """The last line of `text` that parses as a JSON object, prefix stripped."""
    for line in reversed(text.splitlines()):
        line = strip_sbt_prefix(line.strip())
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict):
                return obj
    return None


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def contract_result(raw, trace):
    """Reduce the benchmark JVM's result file to the contract's four keys, and
    fail the run if any metric BENCHMARK.json names is missing or not a
    finite number."""
    wanted = spec()["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        got = raw.get("metrics", {}).get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            raise ValueError("metric %s missing or in the wrong unit: %r" % (m["name"], got))
        v = got.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError("metric %s is not a finite number: %r" % (m["name"], v))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]), "metrics": metrics}


def sf_dir():
    """The sf0.1 test data: PERFBENCH_SF_DIR, else the directory TESTDATA.md
    lists for sf 0.1."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return os.environ["PERFBENCH_SF_DIR"]
    with open(TESTDATA) as f:
        m = re.search(r"^\| 0\.1 \| `([^`]+)`", f.read(), re.M)
    if m is None:
        sys.exit("perfbench: no sf 0.1 directory in %s" % TESTDATA)
    return m.group(1).rstrip("/")


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    sources = [SERVICE_SRC, os.path.join(BENCH, "src", "main"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_mtime(sources):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx2g"
                   % os.path.expanduser("~/.sbt/repositories"))
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                              cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                              timeout=850)
    if done.returncode != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit("perfbench: build failed (log: %s)" % log)


def run(args):
    if not os.path.isdir(SERVICE_SRC):
        sys.exit("perfbench: no service sources at %s; run from a checkout root" % SERVICE_SRC)
    if args.workload not in JIT:
        sys.exit("perfbench: unknown workload %s" % args.workload)
    os.makedirs(OUT, exist_ok=True)
    build()
    with open(LAUNCH) as f:
        jvm = [l for l in f.read().splitlines() if l]
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(OUT, "work-%s-%d" % (tag, os.getpid()))
    result = os.path.join(OUT, "results", tag + ".json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(result), exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + JIT[args.workload] + jvm +
           ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result, "--bench-dir", BENCH, "--sf-dir", sf_dir()])
    log = os.path.join(OUT, tag + ".log")
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                sys.exit("perfbench: run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit("perfbench: benchmark JVM exited with %d (log: %s)" % (proc.returncode, log))
    with open(result) as f:
        raw = json.load(f)
    print(json.dumps(contract_result(raw, args.trace == 1)))


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--read", metavar="FILE")
    args = p.parse_args(argv)
    if args.read:
        with open(args.read) as f:
            obj = last_json(f.read())
        if obj is None:
            sys.exit("perfbench: no JSON result in %s" % args.read)
        print(json.dumps(obj))
        return
    if None in (args.workload, args.seed, args.seconds, args.trace) or args.seconds < 1:
        p.error("--workload, --seed, --seconds (>= 1) and --trace are required")
    run(args)


if __name__ == "__main__":
    main(sys.argv[1:])
