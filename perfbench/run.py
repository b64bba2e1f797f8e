"""Seeded end-to-end benchmark of graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds graft and the harness from source
(see build.py), then runs one workload in a fresh JVM on local[nproc]:
set-up (session, warm-up, three input preparations), measured passes for
S seconds, and correctness checks on every output. Progress and Spark logs
go to stderr; stdout ends with a run-description line and then the result
line {"correct", "attempted", "failed", "metrics"}: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Exits non-zero when the
build fails, the run fails, or any output check fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_daily", "bi_queries", "corpus_curation", "vector_search")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally adds (the same list as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build.build()
    except (subprocess.CalledProcessError, SystemExit, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    tmp = build.BUILD / "tmp"
    out_dir = build.BUILD / "out"
    tmp.mkdir(parents=True, exist_ok=True)
    out_dir.mkdir(parents=True, exist_ok=True)
    out = out_dir / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}.txt"
    out.unlink(missing_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap steadies the timings (no heap-resizing decisions)
    cmd = ["java", *opens, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--out", str(out)]
    # a SIGTERM still stops the JVM: exiting runs the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not out.is_file():
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    meta, result = out.read_text().splitlines()[:2]
    out.unlink()
    print(meta)
    print(result, flush=True)
    r = json.loads(result)
    return 0 if r["correct"] and r["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
