#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck          # tiny run of every workload's checks

Builds the program from the checkout's sources on first use (see
build.py), then runs one JVM with `local[nproc]` Spark. Everything it
writes stays under .bench_build/ in the checkout. The last stdout line is
one JSON object with the keys correct, attempted, failed and metrics:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing into the checkout outside .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["pipeline", "query_mix"]
JVM_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classpath, args, work):
    """Runs perfbench.Main in a fresh work dir; returns (exit code, stdout lines)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dgraft.index.dir={os.path.join(work, 'index')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main", "--work", work, "--cores", str(cores())] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {JVM_LIMIT_S} s and was stopped", file=sys.stderr)
        return 1, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        return None
    with open(spec_file) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--pin-out", help="query_mix: write the set-up rounds' fingerprints here")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")

    classpath = build.build(os.path.join(OUT, "classes"))
    common = ["--sf-dir", a.sf_dir, "--pins", os.path.join(HERE, "fingerprints.tsv")]

    if a.selfcheck:
        bad = 0
        for w in WORKLOADS:
            code, lines = jvm(classpath, common + ["--workload", w, "--seed", str(a.seed),
                                                   "--selfcheck"], os.path.join(OUT, "work", w))
            print("\n".join(lines), flush=True)
            bad += code != 0
        sys.exit(1 if bad else 0)

    args = common + ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace:
        args += ["--spans-out", os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    if a.pin_out:
        args += ["--pin-out", os.path.abspath(a.pin_out)]
    code, lines = jvm(classpath, args, os.path.join(OUT, "work", a.workload))
    if code != 0 or not lines:
        sys.exit(f"perfbench: {a.workload} exited with code {code}")
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace)
    if want is not None and sorted(result["metrics"]) != sorted(want):
        sys.exit("perfbench: metrics differ from BENCHMARK.json: "
                 f"{sorted(set(want) ^ set(result['metrics']))}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
