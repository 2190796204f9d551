"""graft's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload graph-analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness from
source (see build.py), generates the workload's inputs from the seed
(gen.py), runs the workload in a fresh JVM on `local[<cpus>]`, checks every
answer, and prints one JSON line as the last line of standard output:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, measured untraced; with `--trace 1` they
are the per-layer ones, from spans and Spark listener counters, and the
run's spans are written to `.bench_out/trace-<workload>-<seed>.json`.

Workloads: graph-analytics, index-churn, stream-ingest (see BENCHMARK.json
and the module docs of the harness under perfbench/scala).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("graph-analytics", "index-churn", "stream-ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, out, cores, log_path):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--inputs", os.path.join(work, "inputs"),
            "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--out", out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum=None, frame=None):
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            if signum is not None:
                sys.exit(128 + signum)

        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, stop)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not build.build():
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        gen.write_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0

        out = os.path.join(work, "result.json")
        log_path = os.path.join(ROOT, ".bench_out", f"jvm-{args.workload}.log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        code = run_jvm(args, work, out, cpus(), log_path)
        if code != 0 or not os.path.exists(out):
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: the workload JVM {why}; see {os.path.relpath(log_path, ROOT)}",
                  file=sys.stderr)
            return 1
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = metrics.summarize(args.workload, record, gen_s, traced=bool(args.trace))
    parts = record["values"]["setup_parts_s"]
    print(f"perfbench: {args.workload} seed {args.seed}: gen {gen_s:.2f} s, session "
          f"{record['values']['session_s']:.2f} s, " + ", ".join(f"{k} {v:.2f} s" for k, v in parts.items())
          + f"; {len(record['ops'])} ops timed; phases end at "
          + ", ".join(f"{k} {v / 1000:.1f} s" for k, v in sorted(record["values"]["marks"].items(), key=lambda kv: kv[1])),
          file=sys.stderr)
    if args.trace:
        trace_path = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "values": record["values"],
                       "spans": record["spans"],
                       "jobs": record["jobs"], "op_stats": record["op_stats"],
                       "ops": record["ops"], "metrics": result["metrics"]}, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
