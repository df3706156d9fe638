#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the checked-out graft
sources and the benchmark with the offline sbt build in perfbench/ and
caches the resulting classpath under perfbench/target/; later runs reuse it
while no source file changed. The run itself is one JVM (graftbench.Main)
on the Spark session graft.BenchSession builds, with SPARK_GRAFT_CPUS set
to the CPUs this process may use.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The full record of the run (provenance,
every figure, failed checks, spans) is written under
perfbench/target/results/. The exit code is 0 when every output check
passed, 1 when a check failed, 2 when the run could not be made.
See perfbench/METRICS.md for what each metric means.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TARGET = os.path.join(BENCH_DIR, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.json")
RESULTS = os.path.join(TARGET, "results")
WORKLOADS = ("vector_serve", "ingest_sync", "curate_text")
# a run must end within this many seconds; the build is not counted
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# the module options Spark needs on JDK 17 outside spark-submit, as in the
# repository's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the repository root."""
    out = []
    for top in ("build.sbt", os.path.join("project", "build.properties"),
                os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project", "build.properties")):
        if os.path.isfile(os.path.join(ROOT, top)):
            out.append(top)
    for top in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile graft and the benchmark; return the runtime classpath."""
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = [ln for ln in lines if ln.startswith("/") and "scala-library" in ln]
    if not cp:
        fail(f"build printed no classpath (log: {log})")
    with open(CLASSPATH_FILE, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def git(*args):
    try:
        p = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True,
                           timeout=30)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def provenance(digest, cpus, seed):
    sha = git("rev-parse", "HEAD") if os.path.isdir(os.path.join(ROOT, ".git")) else None
    dirty = None
    if sha is not None:
        dirty = bool(git("status", "--porcelain", "--untracked-files=no"))
    return {
        "commit_sha": sha,
        "dirty": dirty,
        "source_sha256": digest,
        "measured_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "cpus": cpus,
        "seed": seed,
    }


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, args, work, out, prov, limit_s):
    n = cpus()
    mem_gb = 3 if n <= 8 else 6
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{mem_gb}g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           "-Dlog4j2.level=WARN"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--smoke", "1" if args.smoke else "0",
            "--out", out, "--work", work, "--provenance", json.dumps(prov)]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(n)
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code, log


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(spec, record, trace):
    """The result line from a run record; also returns the names
    of per-layer metrics the workload does not exercise (reported as 0)."""
    section = "per_layer" if trace else "end_to_end"
    got = record["per_layer" if trace else "e2e"]
    metrics, absent, problems = {}, [], []
    for m in spec[section]:
        name, unit = m["name"], m["unit"]
        if name in got and got[name]["value"] is not None:
            if got[name]["unit"] != unit:
                problems.append(f"{name}: unit {got[name]['unit']} != {unit}")
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif trace:
            absent.append(name)
            metrics[name] = {"value": 0, "unit": unit}
        else:
            problems.append(f"{name}: not measured")
    return metrics, absent, problems


def one_run(args):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft "
             "are missing")
    spec = metric_spec()
    files = source_files()
    digest = source_digest(files)
    classpath = build(digest)
    n = cpus()
    work = os.path.join(TARGET, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    out = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    prov = provenance(digest, n, args.seed)
    t0 = time.time()
    code, log = run_jvm(classpath, args, work, out, prov, RUN_LIMIT_S)
    if code != 0 or not os.path.isfile(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    shutil.rmtree(work, ignore_errors=True)
    with open(out) as fh:
        record = json.load(fh)
    metrics, absent, problems = result_line(spec, record, args.trace)
    for m in spec["end_to_end"] + spec["per_layer"]:
        for sect in ("e2e", "per_layer"):
            if m["name"] in record[sect]:
                record[sect][m["name"]]["better"] = m["better"]
    attempted, failed = int(record["attempted"]), int(record["failed"])
    correct = failed == 0 and not record["failures"] and not problems and attempted > 0
    record["not_exercised"] = absent
    record["problems"] = problems
    record["correct"] = correct
    record["ops_failed_frac"] = failed / attempted if attempted else 1.0
    record["run_s"] = time.time() - t0
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    for msg in record["failures"][:10] + problems:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return record, (0 if correct else 1)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: checks that everything runs, measures nothing")
    ap.add_argument("--selftest", action="store_true",
                    help="smoke-run every workload traced and untraced and check the output")
    args = ap.parse_args(argv)
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    return args


def main(argv):
    args = parse(argv)
    if args.selftest:
        import selftest
        return selftest.main(one_run, parse, metric_spec, WORKLOADS)
    _, code = one_run(args)
    return code


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    sys.exit(main(sys.argv[1:]))
