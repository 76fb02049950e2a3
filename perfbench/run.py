#!/usr/bin/env python3
"""Lakehouse lifecycle benchmark: one run of one workload.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
runs the workload in one JVM on local[N] (N = processors), and prints
as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Everything the run writes stays under .bench_build/perfbench of the
checkout; the run's warehouse is deleted when it ends. See
perfbench/README.md for what each workload does and why.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_merge", "mor_read")
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    data = build.data_dir()
    for t in ("lineitem", "orders"):
        if not os.path.exists(os.path.join(data, t + ".parquet")):
            raise SystemExit(f"perfbench: {t}.parquet not found in {data}")
    jars = build.build(data)
    work = os.path.join(build.OUT, "runs", "%s-%d" % (a.workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(jars, [
        "-XX:SharedArchiveFile=" + build.ARCHIVE,
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")])
    cmd += ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
            "--traces", os.path.join(build.OUT, "traces")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded %d s" % TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    out = stdout.splitlines()
    results = [l for l in out if l.startswith('{"correct"')]
    sys.stderr.write("".join(l + "\n" for l in out if not l.startswith('{"correct"')))
    if proc.returncode != 0 or not results:
        raise SystemExit("perfbench: run failed (exit %d)" % proc.returncode)
    print(json.dumps(json.loads(results[-1])))


if __name__ == "__main__":
    main()
