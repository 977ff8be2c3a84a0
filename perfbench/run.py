"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ts_lineage --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source on first use (build.py)
and records a class-data archive of the build for the JVM (a tiny run of
every listed workload), then runs the workload on a local[4] Spark session
in one JVM. The last
line of standard output is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
line before it, `perfbench.report {...}`, holds every end-to-end figure
with its unit and sample count, the output checks and the host-noise
sentinel. A traced run also writes .bench_build/trace/<workload>-seed<n>.json.
Exits non-zero when an output check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["ts_lineage", "corpus_curate", "vector_search", "stream_dedup"]
TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--drop-row", type=int, choices=[0, 1], default=0,
                    help="drop one output row before the checks (self-test)")
    return ap.parse_args(argv)


BENCH = os.path.join(build.ROOT, ".bench_build")
TMP = os.path.join(BENCH, "tmp")
LOGS = os.path.join(BENCH, "logs")
RUNNING = []


def stop(signum, _frame):
    for proc in RUNNING:
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def java(classpath, jvm_opts, main_args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Xss64m", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
                  "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}"] + jvm_opts + [
        "-cp", ":".join(classpath), "perfbench.Main"] + main_args + [
        "--root", build.ROOT]


def run_java(cmd, log, timeout, stdout=subprocess.PIPE):
    """Runs one JVM; returns (exit code, stdout), or None on timeout."""
    proc = subprocess.Popen(cmd, stdout=stdout, stderr=log, text=True,
                            cwd=build.ROOT)
    RUNNING.append(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    finally:
        RUNNING.remove(proc)


def class_archive(classpath):
    """JVM options that load the build's class-data archive, recording it
    first if this build has none. Class loading is most of a cold JVM's
    Spark session start and first queries; the archive halves it, so a
    run measures the engine rather than the class loader. The recording
    is one tiny run of every listed workload in one JVM."""
    if os.path.exists(build.ARCHIVE):
        return [f"-XX:SharedArchiveFile={build.ARCHIVE}"]
    if os.path.exists(build.ARCHIVE + ".failed"):
        return []
    try:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
    except (OSError, ValueError, KeyError):
        names = WORKLOADS
    part = build.ARCHIVE + ".part"
    cmd = java(classpath, [f"-XX:ArchiveClassesAtExit={part}"],
               ["--workload", ",".join(names), "--seed", "1", "--seconds",
                "1", "--trace", "0", "--size", "tiny", "--drop-row", "0"])
    with open(os.path.join(LOGS, "class-archive.log"), "w") as log:
        # the archive holds the classes loaded, whatever the pass's own
        # output checks found
        res = run_java(cmd, log, 600, stdout=subprocess.DEVNULL)
    if res is not None and os.path.exists(part):
        os.replace(part, build.ARCHIVE)
        return [f"-XX:SharedArchiveFile={build.ARCHIVE}"]
    print("perfbench: recording the class-data archive failed; running "
          "without it", file=sys.stderr)
    open(build.ARCHIVE + ".failed", "w").close()
    return []


def main(argv):
    a = parse(argv)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    os.makedirs(TMP, exist_ok=True)
    os.makedirs(LOGS, exist_ok=True)
    jvm_opts = class_archive(classpath)
    log_path = os.path.join(LOGS, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = java(classpath, jvm_opts,
               ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--size", a.size, "--drop-row", str(a.drop_row)])
    with open(log_path, "w") as log:
        res = run_java(cmd, log, TIMEOUT_S)
    if res is None:
        print(f"perfbench: timed out after {TIMEOUT_S}s; log: {log_path}",
              file=sys.stderr)
        return 3
    returncode, out = res
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if returncode != 0 or result is None:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        print(f"perfbench: exit {returncode}; log: {log_path}",
              file=sys.stderr)
    if result is not None:
        print(json.dumps(result))
    return returncode if returncode != 0 else (0 if result else 4)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
