#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload grep_scan --seed 1 --seconds 10 --trace 0

The first run compiles with sbt (the engine through the benchmark's
source dependency on the enclosing build) and caches the classpath and
the engine build's JVM options under perfbench/.build; later runs reuse
them until a source file changes. The workload runs in a fresh JVM
whose working directory and every output lie under perfbench/.work.
The last stdout line is the JSON result.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("grep_scan", "curate_loops", "index_cycle")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(top):
            files += sorted(os.path.join(top, f) for f in os.listdir(top)
                            if f.endswith((".sbt", ".properties", ".scala")))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """The runtime classpath and the engine build's JVM options (heap
    aside), compiling first when any source changed."""
    want = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cache = os.path.join(BUILD, "run.json")
    if os.path.exists(stamp_file) and os.path.exists(cache):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cache) as fh:
                    run = json.load(fh)
                return run["classpath"], run["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "print engineJavaOptions", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    # `print` lists a sequence one "* item" line each; `export` prints the
    # classpath as the last line
    options = [l[2:].strip() for l in lines if l.startswith("* ")]
    if proc.returncode != 0 or not lines or lines[-1].startswith("[") or not options:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"classpath": lines[-1].strip(), "java_options": options}, fh)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1].strip(), options


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: the engine's sources (build.sbt, src/main/scala) "
                 "are not beside this directory; nothing to build")
    cp, options = build()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap, so heap sizing decisions do not differ run to run
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + options + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK])
    # cwd-relative writes of the engine land in the benchmark's own work dir
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {args.workload} exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(rc)


if __name__ == "__main__":
    main()
