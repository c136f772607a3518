"""The pipeline benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <arrivals|backfill> \\
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the engine and the benchmark from source when needed (build.py), runs
the workload in one JVM on local[min(4, cores)], and relays its output: a
metric table, a `record:` line with the environment and details, and as the
last line the result JSON. Work files live in perfbench/.work and are removed
after the run; each record is also kept in perfbench/.out.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("arrivals", "backfill")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the tests")
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap and young generation: GC sizing, and with it peak RSS
    # and pause times, do not drift between runs
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work] + (["--smoke"] if a.smoke else [])
    lines = []
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def stop():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(RUN_TIMEOUT_S, stop)
    watchdog.start()
    # a terminated benchmark takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        lines = [line.rstrip("\n") for line in proc.stdout]
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            stop()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        print(f"run exceeded {RUN_TIMEOUT_S}s; stopped", file=sys.stderr)
        rc = 124
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        print("\n".join(lines[-20:]), file=sys.stderr)
        print(f"no result (exit code {rc})", file=sys.stderr)
        return rc or 1
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    record = next((l[len("record: "):] for l in lines if l.startswith("record: ")), "{}")
    with open(os.path.join(out, f"{tag}.json"), "w") as fh:
        fh.write(record + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
