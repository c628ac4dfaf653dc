#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JVM per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (perfbench/build.sbt) and generates the
fixed sf0.1 dataset (perfbench/gen.py); later runs reuse both from the
build directory ($CARGO_TARGET_DIR, default .bench_build). Each run then
launches perfbench.Main, checks every result it produced (DuckDB oracle
answers committed in perfbench/expected/, streaming sinks against their
batch form), and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A wrong result makes the run fail (correct: false, exit code 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 170
WORKLOADS = ("publisher_mix", "stream_ingest")
HEAP = "3g"


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_digest():
    """Digest of everything the build compiles, so a changed source
    rebuilds and an unchanged one reuses the classpath."""
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/**/*.scala", recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a distribution with jars
        homes = [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if glob.glob(os.path.join(h, "jars", "spark-core_*.jar"))]
        if not homes:
            raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
        env["SPARK_HOME"] = homes[0]
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source digest; returns the runtime classpath."""
    if not os.path.isdir("src/main/scala/graft"):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp = os.path.join(bdir, f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    log("building engine + harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def dataset(expected):
    """Generate the fixed dataset once per checkout (again when gen.py
    changed) and refuse one whose bytes differ from the dataset the
    committed oracle answers describe."""
    import gen
    out = os.path.join(build_dir(), "data-sf0.1")
    stamp = os.path.join(out, "fingerprint")
    if not os.path.exists(stamp) or open(stamp).read().strip() != expected["data_fingerprint"]:
        shutil.rmtree(out, ignore_errors=True)
        fp = gen.write(out + ".tmp")
        os.rename(out + ".tmp", out)
        with open(stamp, "w") as f:
            f.write(fp)
    fp = open(stamp).read().strip()
    if fp != expected["data_fingerprint"]:
        raise SystemExit(f"perfbench: generated dataset {fp[:12]} differs from the one the "
                         f"oracle answers were computed on ({expected['data_fingerprint'][:12]}); "
                         "regenerate them with perfbench/oracle.py")
    return out


def java_cmd(cp, main, args, heap, tmp=None):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # scratch files (JVM temp, perf data) stay in the run's work directory
    local = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] if tmp else []
    return (["java"] + opens + local + [f"-Xmx{heap}", "-XX:+UseG1GC",
                                        "-Dlog4j2.level=ERROR", "-cp", cp, main] + args)


def launch(cp, a, data):
    """Run one workload JVM in a fresh work directory (its working
    directory too, so artifacts the engine writes relative to it start
    empty) and return the raw record."""
    work = os.path.join(build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out]
    logf = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(java_cmd(cp, "perfbench.Main", args, HEAP, tmp=work), cwd=work,
                         stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    logf.close()
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: workload JVM failed ({rc})")
    return json.load(open(out)), work


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    expected = json.load(open(os.path.join(HERE, "expected", "oracle.json")))
    cp = build()
    data = dataset(expected)
    raw, work = launch(cp, a, data)
    try:
        report = check.evaluate(a.workload, raw, expected, bool(a.trace))
    finally:
        shutil.copy(os.path.join(work, "raw.json"),
                    os.path.join(build_dir(), f"last_raw_{a.workload}.json"))
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(build_dir(), f"last_{a.workload}_{'traced' if a.trace else 'untraced'}.json"),
              "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for line in report["notes"]:
        log(line)
    metrics = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
