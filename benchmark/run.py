#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded closed-loop workloads.

    python3 benchmark/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt; a seed's substrate is generated once and
reused. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See benchmark/README.md.
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
OPENS = os.path.join(TARGET, "add-opens.txt")
STAMP = os.path.join(TARGET, "build.stamp")

# Substrates are reseeded copies of the sf0.1 tables (TESTDATA.md).
SOURCE = os.environ.get("GRAFT_BENCH_SOURCE",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
# Seeds map onto this many substrates, so a series of runs regenerates
# data a bounded number of times; the operation sequence uses the full seed.
SUBSTRATES = 2
# Warm-pass time of each workload, measured on a 4-core box. A run
# measures round(seconds / nominal) passes, at least MIN_PASSES (an even
# number when traced), so all runs of a workload measure the same
# operations at the same warmth.
NOMINAL_PASS_S = {"corpus": 5.5, "store": 6.0}
MIN_PASSES = 2
# Set-ups per run; setup_s is their median. The store's set-up writes a
# table, the corpus's only starts a session.
SETUPS = {"corpus": 9, "store": 3}
HEAP = "4g"
# A run, substrate generation included, ends within this many seconds
# of the build being ready.
RUN_BUDGET_S = 170

class BenchError(Exception):
    pass


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark once per source state."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources not found next to the benchmark")
    digest = sources_digest()
    if all(os.path.isfile(f) for f in (CLASSPATH, OPENS, STAMP)):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.isfile(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log("building engine and benchmark")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not (os.path.isfile(CLASSPATH) and os.path.isfile(OPENS)):
        raise BenchError(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def java(args, run_dir, log_path, timeout):
    """Run the benchmark JVM with its own tmp and Spark local dirs."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(OPENS) as f:
        opens = f.read().split()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = (["java"] + [x for p in opens for x in ("--add-opens", p)]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.bench.Main"]
           + [str(a) for a in args] + ["--run-dir", run_dir])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM timed out after {timeout} s (log: {log_path})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise BenchError(f"JVM exited {rc} (log: {log_path})")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def remaining(deadline):
    left = deadline - time.time()
    if left < 5:
        raise BenchError("run budget exhausted")
    return left


def substrate(seed, deadline):
    """Seeded substrate directory, generated on first use."""
    k = seed % SUBSTRATES
    dst = os.path.join(WORK, "substrate", f"sf0.1-{k}")
    if os.path.isfile(os.path.join(dst, "_READY")):
        return dst
    if not os.path.isdir(SOURCE):
        raise BenchError(f"source tables not found at {SOURCE}")
    log(f"generating substrate {k} from {SOURCE}")
    staging = f"{dst}.staging.{os.getpid()}"
    run_dir = f"{staging}.run"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        java(["--mode", "reseed", "--cores", cores(), "--source", SOURCE,
              "--substrate", staging, "--seed", 1000 + k],
             run_dir, os.path.join(WORK, "reseed.log"), remaining(deadline))
        with open(os.path.join(staging, "_READY"), "w") as f:
            f.write(f"reseed {1000 + k} of {SOURCE}\n")
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(staging, dst)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
    return dst


def bytes_under(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def warm_passes(workload, seconds, trace):
    n = max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))
    return n + n % 2 if trace else n


def oracle_verdicts(run_dir, res, sub, cache):
    """DuckDB verdicts for the run's oracle-covered queries. The
    comparison runs once per build, substrate and query set; later runs
    reuse its verdicts (the per-pass row counts are still checked
    against the oracle's on every run).
    """
    if os.path.isfile(cache):
        with open(cache) as f:
            return {q: tuple(v) for q, v in json.load(f).items()}
    verdicts = oracle.check(sub, os.path.join(run_dir, "oracle"), res["oracle"])
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(verdicts, f)
    return verdicts


def main(argv=None):
    try:
        doc = metrics.load()
    except (OSError, ValueError) as e:
        log(f"error: cannot read {metrics.BENCHMARK_JSON}: {e}")
        return 2
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in doc["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    try:
        build()
        deadline = time.time() + RUN_BUDGET_S
        os.makedirs(WORK, exist_ok=True)
        sub = substrate(a.seed, deadline)
        with open(STAMP) as f:
            digest = f.read().strip()[:16]
        cache = os.path.join(WORK, "oracle", f"{digest}-{os.path.basename(sub)}-{a.workload}.json")
        run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            out = os.path.join(run_dir, "result.json")
            java(["--mode", "run", "--workload", a.workload, "--seed", a.seed,
                  "--trace", a.trace, "--cores", cores(), "--setups", SETUPS[a.workload],
                  "--substrate", sub, "--out", out,
                  "--passes", warm_passes(a.workload, a.seconds, a.trace == 1),
                  "--dump-oracle", int(not os.path.isfile(cache))],
                 run_dir, os.path.join(WORK, f"{a.workload}.log"), remaining(deadline))
            with open(out) as f:
                res = json.load(f)
            tmp_left = bytes_under(os.path.join(run_dir, "tmp")) + \
                bytes_under(os.path.join(run_dir, "local"))
            verdicts = oracle_verdicts(run_dir, res, sub, cache)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except BenchError as e:
        log(f"error: {e}")
        return 2

    result = report.summarize(res, verdicts, tmp_left, a.trace == 1, doc)
    for name, why in result.pop("problems"):
        log(f"FAILED {name}: {why}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run's directories are removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
