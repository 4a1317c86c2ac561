#!/usr/bin/env python3
"""Run one graft benchmark run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pin <first>-<last>   # rewrite perfbench/pins.json

Builds the harness and the library from source on first use (sbt, in
perfbench/), then starts one JVM that runs the workload and prints its
result as the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ["encode_zipf", "scan_decode", "query_pruned", "dedup_webdocs"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the library's src/main and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(want)


def java_cmd(main_args, tmp):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory", 3)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else shutil.which("java")
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # native libraries (zstd, snappy, netty) unpack here, inside the checkout
            f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, *main_args]


def pin(seeds):
    """Encode each seed's encode_zipf input once and write perfbench/pins.json."""
    work = os.path.join(WORK, "pin")
    tmp = os.path.join(WORK, "tmp-pin")
    os.makedirs(tmp, exist_ok=True)
    try:
        code = subprocess.call(java_cmd(["perfbench.Pins", seeds, work], tmp), cwd=ROOT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", metavar="FIRST-LAST", help="rewrite the encode pins of these seeds")
    args = ap.parse_args()
    if not args.pin and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a graft checkout")
    build()
    if args.pin:
        pin(args.pin)

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, f"run-{tag}")
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    tmp = os.path.join(WORK, f"tmp-{tag}")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "wb") as log:
        main_args = ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
        proc = subprocess.Popen(java_cmd(main_args, tmp), cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out after {RUN_TIMEOUT_S}s; log: {log_path}", 4)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    lines = out.decode(errors="replace").rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed with exit code {proc.returncode}; log: {log_path}", 5)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result line: {lines[-1][:200]}", 5)
    print("\n".join(lines))
    sys.exit(0)


if __name__ == "__main__":
    main()
