#!/usr/bin/env python3
"""Run one benchmark workload from the repository root:

    python3 perfbench/run.py --workload analytics --seed 7 --seconds 20 --trace 0

Builds the program from source if needed (perfbench/build.py), runs
perfbench.Main in one JVM, checks the outputs and prints one JSON
object as the last line of stdout: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The line before it is a stamp of the
run (seed, nproc, external cores and steal per timed phase, the
percentile actually reported for each tail metric).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("pipeline", "analytics")
DATA = HERE / "data" / "sf0.01"
FINGERPRINTS = HERE / "fingerprints.json"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-fingerprints", action="store_true",
                    help="record this run's query fingerprints as the expected ones")
    return ap.parse_args(argv)


def run_jvm(classpath, args, work, out, limit_s):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed heap: with a growable one (-Xmx3g alone), which G1 may
    # shrink after the full GCs between queries, q88's warm passes
    # varied by a third from one JVM to the next (see README, Sizing).
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(DATA), str(work), str(out)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {limit_s:.0f}s")
    if code != 0:
        raise SystemExit(f"perfbench: run exited with {code}")


def main(argv):
    args = parse_args(argv)
    t0 = time.monotonic()
    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        print("perfbench: run from the repository root (no src/main/scala here)",
              file=sys.stderr)
        return 2
    stamp = root / build.BUILD_DIR / "stamp"
    first = not stamp.is_file()
    classpath = build.ensure_built(root)
    limit = (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.monotonic() - t0)
    work = root / build.BUILD_DIR / f"work-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    out = work / "raw.json"
    try:
        run_jvm(classpath, args, work, out, limit)
        raw = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.write_fingerprints:
        fps = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.is_file() else {}
        fps.update(stats.capture_fingerprints(raw))
        FINGERPRINTS.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
    result, detail = stats.summarize(
        raw, json.loads(FINGERPRINTS.read_text()), args.trace == 1)
    stamp_line = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "nproc": raw["nproc"], "box": raw["box"], "setup": raw["setup"],
                  "query_s": [{r["name"]: round(r["s"], 3) for r in p}
                              for p in raw["passes"]],
                  "heap_mb": [round(h, 1) for h in
                              [raw["ingest_heap_mb"]] + raw["pass_heap_mb"]],
                  **detail}
    print("stamp " + json.dumps(stamp_line, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
