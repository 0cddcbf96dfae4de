#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, runs one workload in a
forked JVM and prints one JSON result line last.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Workloads and metrics are listed in BENCHMARK.json; perfbench/README.md
says what each one measures. With --trace 0 the result carries the
end-to-end metrics. With --trace 1 the runner runs the workload twice with
the same seed, untraced and then traced, and the result carries the
per-layer metrics of the traced run plus the tracing overhead
(overhead.<metric> = traced minus untraced). A per-layer metric a workload
does not exercise reads 0.

Two maintenance modes:

    python3 perfbench/run.py --record-board   # rewrite expected/board.tsv
    python3 perfbench/run.py --self-test      # a wrong answer must count

Everything a run builds or writes stays inside the checkout: .bench_build/
and the sbt target/ directories.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")
EXPECTED = os.path.join(BENCH, "expected", "board.tsv")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark with sbt, once per source
    state, and returns the runtime classpath. Concurrent runs wait for one
    build."""
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
            with open(STAMP) as fh:
                if fh.read() == stamp:
                    with open(CLASSPATH) as fh2:
                        return fh2.read().strip()
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")])
        t0 = time.time()
        log("building the program and the benchmark with sbt")
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
            timeout=800)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or lines[-1].startswith("["):
            errors = [l for l in lines if l.startswith("[error]")]
            sys.stderr.write("\n".join(errors or lines[-40:])[-6000:] + "\n")
            raise SystemExit("build failed")
        with open(CLASSPATH, "w") as fh:
            fh.write(lines[-1].strip())
        with open(STAMP, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
        return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, props=()):
    """Runs Main for one workload in a fresh JVM and returns its result."""
    work = tempfile.mkdtemp(prefix=f"run-{workload}-", dir=BUILD)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work, *props]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", workload, str(seed),
            str(seconds), str(trace), work, BENCH]
    env = dict(os.environ)
    # Spark's scratch space is the run's own directory (spark.local.dir),
    # which this variable would override
    env.pop("SPARK_LOCAL_DIRS", None)
    # the registry's fixture-reading queries read the checkout's copy
    env["GRAFT_FIXTURES_DIR"] = os.path.join(ROOT, "fixtures")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{workload}: the JVM did not end in "
                         f"{JVM_TIMEOUT_S} s")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            kept = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")
            shutil.move(spans, kept)
            log(f"spans written to {kept}")
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr, flush=True)
    results = [l for l in lines if l.startswith("{")]
    if proc.returncode != 0 or not results:
        raise SystemExit(f"{workload}: the JVM exited with {proc.returncode}")
    return json.loads(results[-1])


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def measure(cp, a):
    """One benchmark run: the contract's result line."""
    bench = spec()
    untraced = run_jvm(cp, a.workload, a.seed, a.seconds, 0)
    runs = [untraced]
    if a.trace == 0:
        metrics = {m["name"]: {"value": untraced["end_to_end"][m["name"]],
                               "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        traced = run_jvm(cp, a.workload, a.seed, a.seconds, 1)
        runs.append(traced)
        # what the untraced run also reports is taken from it, untraced
        values = {**traced["per_layer"], **untraced["per_layer"]}
        for k, v in traced["end_to_end"].items():
            values["overhead." + k] = v - untraced["end_to_end"][k]
        if a.workload == "pipeline":
            # the share of a warm untraced ETL run that the traced
            # steps' self times account for; a self time below zero
            # (timer noise on a step that costs next to nothing) adds 0
            values["pipeline.self_share"] = sum(
                max(v, 0.0) for k, v in traced["per_layer"].items()
                if k.startswith("pipeline.") and k.endswith("_s")
                and k != "pipeline.run_s"
            ) / values["pipeline.run_s"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    log("diagnostics " + json.dumps(runs[-1]["diagnostics"]))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def record_board(cp):
    """Runs the board twice, with two query orders, and writes each
    query's expected rows and probe hash; a query whose hash differs
    between any two of its runs is checked on rows only."""
    seen = {}
    for seed in (1, 2):
        f = os.path.join(BUILD, f"record-{seed}.tsv")
        run_jvm(cp, "board", seed, 1, 0, ["-Dperfbench.record=" + f])
        with open(f) as fh:
            for line in fh:
                name, rows, hashes = line.rstrip("\n").split("\t")
                r, h = seen.setdefault(name, (set(), set()))
                r.update(rows.split(","))
                h.update(hashes.split(","))
    out = ["# query\trows\tprobe hash, or * where the hash is not stable"]
    for name in sorted(seen):
        rows, hashes = seen[name]
        if len(rows) != 1:
            raise SystemExit(f"{name}: row count differs between runs: {rows}")
        out.append(f"{name}\t{rows.pop()}\t"
                   f"{hashes.pop() if len(hashes) == 1 else '*'}")
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as fh:
        fh.write("\n".join(out) + "\n")
    log(f"wrote {EXPECTED}")


def self_test(cp):
    """Each workload spoils one answer per operation; every spoiled
    operation must be counted as failed."""
    ok = True
    for w in [w["name"] for w in spec()["workloads"]]:
        r = run_jvm(cp, w, 1, 1, 0, ["-Dperfbench.corrupt=true"])
        good = 0 < r["failed"] == r["attempted"]
        log(f"self-test {w}: {r['failed']} of {r['attempted']} operations "
            f"failed: {'ok' if good else 'NOT DETECTED'}")
        ok &= good
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-board", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run from the root of a checkout: the program's "
                         "build.sbt and src/main/scala are missing")
    names = [w["name"] for w in spec()["workloads"]]
    if not (a.record_board or a.self_test or a.workload in names):
        raise SystemExit(f"--workload must be one of {names}")
    cp = build()
    if a.record_board:
        record_board(cp)
    elif a.self_test:
        sys.exit(0 if self_test(cp) else 1)
    else:
        print(json.dumps(measure(cp, a)), flush=True)


if __name__ == "__main__":
    main()
