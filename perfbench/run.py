#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its result object.

    python3 perfbench/run.py --workload subscribe|upsert|aggregate \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine
and the benchmark with sbt (perfbench/build.sbt) and caches the runtime
classpath under perfbench/target; later runs reuse it until a source
file changes. Each run starts one JVM (perfbench.Main; a traced run
then a second, perfbench.LayerLoops) whose scratch files all live
under perfbench/target/runs/<pid>, which is removed when the run ends,
whether it passed or failed.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end
metrics; --trace 1 reports the per-layer ones, prints a self-time
table on stderr and writes the spans to perfbench/target/traces/.
The exit code is 0 only if every output check passed and nothing was
left behind. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ("subscribe", "upsert", "aggregate")

# Later runs must end within 180 s; the run that builds may take 900 s.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880


def jvm_flags():
    """The flags in perfbench/jvm.options, which the tests fork with too."""
    with open(os.path.join(HERE, "jvm.options")) as fh:
        flags = [l.strip() for l in fh if l.strip() and not l.lstrip().startswith("#")]
    return flags + ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_inputs():
    """Every file the build reads from the checkout, in a fixed order."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached classpath; return
    (classpath, whether this call built)."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "GraftSession.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(engine)):
        fail(f"no graft sources at {ROOT} (expected build.sbt and {os.path.relpath(engine, ROOT)}); "
             "run from the root of a graft checkout")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached = fh.read().split("\n")
        if len(cached) >= 2 and cached[0] == digest:
            return cached[1], False
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_RUN_LIMIT_S - 300)
    lines = [l for l in proc.stdout.splitlines() if os.pathsep in l and "classes" in l]
    sys.stderr.write("\n".join(l for l in proc.stdout.splitlines()[-40:] if l not in lines) + "\n")
    if proc.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + lines[-1].strip() + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip(), True


def run_jvm(cp, flags, main_class, args, run_root, deadline):
    """Run one benchmark JVM in its own process group under run_root;
    return (exit code, its result object or None). It is killed at the
    deadline, and its scratch under run_root removed either way."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *flags,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}",
           "-cp", cp, main_class, *args, "--root", run_root]
    proc = subprocess.Popen(cmd, cwd=run_root, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)

    def kill():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def stop(*_):
        kill()
        shutil.rmtree(run_root, ignore_errors=True)
        fail("interrupted")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        kill()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"{main_class} ran past the time limit")
    finally:
        kill()
    if os.path.isdir(os.path.join(run_root, "work")):
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"scratch left behind: {os.path.join(run_root, 'work')}", 3)
    shutil.rmtree(tmp, ignore_errors=True)
    for line in reversed(out.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and {"attempted", "failed", "metrics"} <= obj.keys():
            return proc.returncode, obj
    return proc.returncode, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    cp, built = classpath()
    deadline = started + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    run_root = os.path.join(TARGET, "runs", str(os.getpid()))
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    top_before = set(os.listdir(ROOT))
    flags = jvm_flags()
    wl = ["--workload", args.workload, "--seed", str(args.seed)]
    engine_args = wl + ["--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.trace:
        engine_args += ["--trace-out",
                        os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.json")]
    code, result = run_jvm(cp, flags, "perfbench.Main", engine_args, run_root, deadline)
    if result is not None and code == 0 and args.trace:
        # the single-thread loops run under the default tiered JIT
        loop_flags = [f for f in flags if not f.startswith("-XX:TieredStopAtLevel")]
        code, loops = run_jvm(cp, loop_flags, "perfbench.LayerLoops", wl, run_root, deadline)
        if loops is None:
            result = None
        else:
            result["attempted"] += loops["attempted"]
            result["failed"] += loops["failed"]
            result["correct"] = result["correct"] and loops["failed"] == 0
            result["metrics"].update(loops["metrics"])

    shutil.rmtree(run_root, ignore_errors=True)
    if os.path.isdir(os.path.join(TARGET, "runs")) and not os.listdir(os.path.join(TARGET, "runs")):
        os.rmdir(os.path.join(TARGET, "runs"))
    stray = sorted(set(os.listdir(ROOT)) - top_before)
    if os.path.exists(run_root) or stray:
        fail(f"scratch left behind: {stray or run_root}", 3)
    if result is None:
        fail(f"benchmark JVM exited {code} without a result")
    print(json.dumps(result), flush=True)
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
