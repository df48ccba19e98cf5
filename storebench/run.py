#!/usr/bin/env python3
"""Store benchmark: one run of one workload against the engine in this checkout.

    python3 storebench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine together
with the benchmark (sbt, storebench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run starts a fresh JVM with a fresh
store directory under storebench/work/, deleted afterwards.

Prints every metric by name and unit, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Exits 1 when an output check fails, 2 when the checkout cannot be built.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[storebench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input to the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source digest; return the
    runtime classpath."""
    os.makedirs(TARGET, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(TARGET, "runtime.classpath")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                stamp, cp = f.read().split("\n", 1)
            if stamp == digest:
                return cp.strip(), digest
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            # resolve only from the local caches, never the network
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
        log("building engine + benchmark (sbt)")
        with open(os.path.join(TARGET, "build.log"), "w+") as out:
            rc = wait(subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "printClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                start_new_session=True), 780)
            out.seek(0)
            text = out.read()
        cp = [line[len("CLASSPATH="):] for line in text.splitlines()
              if line.startswith("CLASSPATH=")]
        if rc != 0 or not cp:
            sys.stderr.write(text[-4000:])
            raise SystemExit("build failed")
        # class-data archive: a JVM that maps it starts Spark in about half
        # the time, which keeps each run near a minute
        work = os.path.join(WORK, "archive")
        shutil.rmtree(work, ignore_errors=True)
        try:
            rc = java(cp[-1], work, f"-XX:ArchiveClassesAtExit={ARCHIVE}.new",
                      ["--warmup", "1"], 300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not os.path.exists(ARCHIVE + ".new"):
            raise SystemExit("class-data archive run failed")
        os.replace(ARCHIVE + ".new", ARCHIVE)
        with open(cp_file, "w") as f:
            f.write(digest + "\n" + cp[-1])
        return cp[-1], digest


def git_commit():
    """HEAD of the checkout, when it is a git repository of its own."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True, timeout=10)
    return out.stdout.strip() if out.returncode == 0 else None


def java(cp, work, archive_flag, main_args, timeout):
    """Run storebench.Main in a fresh JVM whose temp and shuffle files stay
    under `work`; kill it (and wait) past `timeout`. Returns the exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            archive_flag]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "storebench.Main"] + main_args)
    return wait(subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                 stderr=sys.stderr, start_new_session=True),
                timeout)


def wait(proc, timeout):
    """Exit code of `proc`; past `timeout`, kill its whole process group,
    wait for it, and fail."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{proc.args[0]} exceeded {timeout} s")


def run_jvm(cp, args, work):
    """One benchmark run in a fresh JVM; returns its record (dict)."""
    out = os.path.join(work, "record.json")
    rc = java(cp, work, f"-XX:SharedArchiveFile={ARCHIVE}",
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--store", os.path.join(work, "store"), "--out", out],
              JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def ledger_check(rec):
    """Kept-doc counts of a curate run must repeat exactly across runs of
    the same seed (same inputs, same assembly): compare per round with the
    first run of this seed recorded in this checkout."""
    kept = rec["inputs"].get("kept_docs_per_round")
    if kept is None:
        return True
    path = os.path.join(RESULTS, "kept_docs_ledger.json")
    ledger = {}
    if os.path.exists(path):
        with open(path) as f:
            ledger = json.load(f)
    key = f"{rec['workload']}/{rec['seed']}"
    prior = ledger.get(key, [])
    n = min(len(prior), len(kept))
    ok = prior[:n] == kept[:n]
    if not ok:
        log(f"kept-doc counts {kept} differ from an earlier run's {prior}")
    if len(kept) > len(prior):
        ledger[key] = kept if ok else prior
        with open(path, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
    return ok


def tracing_overhead(rec):
    """Traced minus untraced run of the same workload and seed, when the
    untraced record exists in this checkout."""
    path = os.path.join(RESULTS, f"{rec['workload']}-s{rec['seed']}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    e2e = {k: rec["metrics"][k] - v for k, v in base["metrics"].items()
           if k in rec["metrics"]}
    spans = {s: {"traced_wall_ms": c["wall_ms"],
                 "untraced_wall_ms": base["spans"].get(s, {}).get("wall_ms"),
                 "traced_calls": c["calls"],
                 "untraced_calls": base["spans"].get(s, {}).get("calls")}
             for s, c in rec["spans"].items()}
    return {"end_to_end_delta": e2e, "spans": spans}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(ENGINE) and os.path.exists(spec_path)):
        log(f"no engine sources under {os.path.relpath(ENGINE, ROOT)}: "
            "run from the root of a full checkout")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        return 2

    cp, digest = build()
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        rec = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["env"].update({"git_commit": git_commit(), "source_sha256": digest,
                       "heap": HEAP})

    correct = rec["failed"] == 0 and ledger_check(rec)
    failed = rec["failed"] + (0 if correct or rec["failed"] else 1)
    if args.trace:
        rec["tracing_overhead"] = tracing_overhead(rec)
        wanted = spec["per_layer"]

        def value(name):
            span, counter = name.rsplit(".", 1)
            return rec["spans"].get(span, {}).get(counter, 0.0)
    else:
        wanted = spec["end_to_end"]

        def value(name):
            return rec["metrics"].get(name)
    metrics = {}
    for m in wanted:
        v = value(m["name"])
        if v is None:
            log(f"metric {m['name']} missing (its calls all failed)")
            correct = False
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    with open(os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    tail = rec["read_tail"]
    print(f"# error_rate {rec['metrics']['error_rate']} "
          f"({rec['failed']} failed of {rec['attempted']} attempted)")
    if "percentile" in tail:
        print(f"# read_tail_s is p{tail['percentile']} of {tail['read_calls']} "
              f"read calls ({tail['calls_beyond']} beyond it)")
    print("# inputs " + json.dumps(rec["inputs"], sort_keys=True))
    print("# env " + json.dumps(rec["env"], sort_keys=True))
    if rec.get("tracing_overhead"):
        print("# tracing_overhead " + json.dumps(
            rec["tracing_overhead"]["end_to_end_delta"], sort_keys=True))
    for e in rec["errors"]:
        print(f"# error {e}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
