"""graft's benchmark: one closed-loop client driving the vector store.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program
(perfbench/build.py) and records a class-data-sharing archive of the
client's classes with one short untimed run. The Scala client (perfbench/src) builds a store from
seeded vectors, runs the workload for S seconds, checks every result, and
prints one JSON line; this script keeps the metrics BENCHMARK.json lists
(end_to_end with --trace 0, per_layer with --trace 1), prints every other
figure on stderr, and prints the JSON line last on stdout. Spans and
counters of the run go to .bench_build/perfbench/detail-*.json.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
CLIENT_DEADLINE_S = 170  # a run must end within 180 s once compiled
ARCHIVE_DEADLINE_S = 400  # the first run of a checkout may take 900 s

JAVA_OPTS = [
    "-Xss8m", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def listed_metrics(trace):
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def start_client(jar, workload, seed, seconds, trace, work, detail, extra=()):
    """Starts the Scala client in its own process group."""
    cores = len(os.sched_getaffinity(0))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JAVA_OPTS + list(extra) + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", os.pathsep.join([jar, build.spark_jars()]),
        "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", work, "--detail", detail, "--cores", str(cores),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=ROOT,
                            start_new_session=True, text=True)


def finish(proc, timeout):
    """Waits for the client; kills its process group if it overruns or
    if this script is stopped. Returns its stdout, or None on timeout.
    """
    try:
        return proc.communicate(timeout=timeout)[0]
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def class_archive(jar):
    """A class-data-sharing archive of the classes the client loads, so
    that each run's JVM maps them instead of loading them one by one
    (about 6 s less start-up per run on a 4-core host). It is recorded
    once per build by a short `serve` run; when that fails the runs go
    without it. Returns its path or None.
    """
    jsa = os.path.join(build.OUT, "client.jsa")
    stamp_file = jsa + ".stamp"
    want = build.stamp([jar])
    with build.locked():
        if os.path.exists(jsa) and build.read_stamp(stamp_file) == want:
            return jsa
        for f in (jsa, stamp_file):
            if os.path.exists(f):
                os.remove(f)
        print("perfbench: recording the class archive", file=sys.stderr, flush=True)
        work = os.path.join(build.OUT, f"archive-{os.getpid()}")
        try:
            proc = start_client(jar, "serve", 0, 0, 0, work, os.path.join(work, "detail.json"),
                                [f"-XX:ArchiveClassesAtExit={jsa}"])
            ok = finish(proc, ARCHIVE_DEADLINE_S) is not None and proc.returncode == 0
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if not ok or not os.path.exists(jsa):
            print("perfbench: no class archive; running without it", file=sys.stderr)
            return None
        with open(stamp_file, "w") as fh:
            fh.write(want + "\n")
    return jsa


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a stopped run still stops its client (see finish)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    names = listed_metrics(args.trace)
    jar = build.build()
    jsa = class_archive(jar)
    deadline = time.time() + CLIENT_DEADLINE_S  # building is not counted
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    detail = os.path.join(build.OUT, f"detail-{args.workload}-{args.seed}-trace{args.trace}.json")
    try:
        proc = start_client(jar, args.workload, args.seed, args.seconds, args.trace, work, detail,
                            [f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
        out = finish(proc, deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail("client exceeded the time limit", 3)
    if proc.returncode != 0:
        fail(f"client exited with code {proc.returncode}", 3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        fail("client printed no result", 3)
    result = json.loads(lines[-1])

    metrics = result["metrics"]
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"client did not report {', '.join(missing)}", 4)
    for k, v in metrics.items():
        print(f"perfbench: {k} = {v['value']} {v['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: metrics[n] for n in names},
    }))


if __name__ == "__main__":
    main()
