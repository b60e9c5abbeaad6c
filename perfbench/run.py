#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload eeg_viewer --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from
source on first use (sbt, offline), starts one benchmark JVM on
local[<cores>], runs the workload's output checks (the DuckDB oracle for
corpus_curation runs here), and prints one `metric <name> <value> <unit>`
line per measured metric followed by the result as a single bare JSON
line, which is always the last line of stdout:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

With --trace 0 the JSON carries the end-to-end metrics named in
BENCHMARK.json, with --trace 1 its per-layer metrics. The launcher
replays the last 2000 characters of its own output through
`parse_tail` before printing, so the result survives a truncated,
prefixed log.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("eeg_viewer", "eeg_ingest", "corpus_curation")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0
TAIL_CHARS = 2000
HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

METRIC_LINE = re.compile(r"(?:^|\s)metric (\S+) (\S+) (\S+)\s*$")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def parse_tail(text):
    """Parse a (possibly truncated, possibly log-prefixed) stdout tail:
    the last line that holds a JSON object is the result, and every
    complete `metric` line before it is kept. Returns (result, metrics).
    """
    result, metrics = None, {}
    for line in text.splitlines():
        m = METRIC_LINE.search(line)
        if m:
            metrics[m.group(1)] = (float(m.group(2)), m.group(3))
            continue
        brace = line.find("{")
        if brace < 0:
            continue
        try:
            obj = json.loads(line[brace:])
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = obj
    return result, metrics


def benchmark_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home, jars


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(spark_home):
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {os.path.relpath(engine, ROOT)}")
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, BUILD_LIMIT_S)
    if code != 0:
        with open(os.path.join(BUILD_DIR, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def wait(proc, limit_s):
    """Wait for a process (and its group) with a time limit; kill on expiry."""
    try:
        return proc.wait(timeout=max(limit_s, 1.0))
    except subprocess.TimeoutExpired:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                proc.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                continue
        return None


def run_jvm(args, jars, deadline):
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "record.json")
    spans = os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.jsonl")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out_file, "--spans", spans,
            "--cores", str(cores), "--launch-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, deadline - time.time())
    record = None
    if code == 0 and os.path.isfile(out_file):
        with open(out_file) as f:
            record = json.load(f)
    else:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        log("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}")
    return record, work


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    spec = benchmark_spec()
    spark_home, jars = spark_jars()
    build(spark_home)
    deadline = time.time() + RUN_LIMIT_S - min(time.time() - t_start, 60.0)

    t_jvm = time.time()
    record, work = run_jvm(args, jars, deadline)
    log(f"benchmark JVM ran {time.time() - t_jvm:.1f} s")
    try:
        if record is None:
            fail("no result", code=3)
        if args.workload == "corpus_curation":
            import oracle  # noqa: E402  (sibling module)
            t_oracle = time.time()
            problems = oracle.check(record, os.path.join(work, "oracle"))
            log(f"oracle check ran {time.time() - t_oracle:.1f} s")
            for p in problems:
                record["errors"].append(p)
            if problems:
                record["checks_ok"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in record["errors"]:
        log(f"check: {e}")
    attempted, failed = int(record["attempted"]), int(record["failed"])
    metrics = record["metrics"]
    metrics["failed_frac"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in wanted if n not in metrics]
    correct = bool(record["checks_ok"]) and failed == 0 and not missing
    if missing:
        log(f"metrics missing from the record: {missing}")
    lines = [f"fact {k} {v}" for k, v in record.get("facts", {}).items()]
    lines += [f"metric {n} {repr(float(m['value']))} {m['unit']}" for n, m in metrics.items()]
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {n: metrics[n] for n in wanted if n in metrics}}
    lines.append(json.dumps(result, separators=(",", ":")))
    text = "\n".join(lines) + "\n"
    parsed, _ = parse_tail(text[-TAIL_CHARS:])
    if parsed != result:
        fail("result line does not survive a truncated tail", code=4)
    sys.stdout.write(text)
    sys.stdout.flush()


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
