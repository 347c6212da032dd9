"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--inject-failure]

Builds the engine and the driver (perfbench/build.py), generates the
workload's tables from the seed (perfbench/datagen.py), runs the workload
in one JVM at local[4] with one client thread, checks the outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, and the layer table goes to stderr.

Everything a run writes lives in .bench_build/runs/<run>/, deleted at the
end of a run that succeeds; a traced run leaves its spans in
.bench_build/traces/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

# generated corpus size per workload (datagen scale; 0.01 = 1.5k customers)
SCALE = {"catalog": 0.001, "graph_write": 0.01}
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one operation that throws (checks the failure accounting)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    classes = build.build()
    jars = os.path.join(build.spark_jars(), "*")
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    datagen.write(data, args.seed, SCALE[args.workload])
    for d in ("tmp", "index"):
        os.makedirs(os.path.join(run_dir, d))

    env = dict(os.environ, GRAFT_INDEX_ROOT=os.path.join(run_dir, "index"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", run_dir,
              "--out", os.path.join(run_dir, "result.json")]
           + (["--inject-failure", "1"] if args.inject_failure else []))
    # the JVM's stdout goes to stderr: the last stdout line is the result
    jvm0 = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: the {args.workload} run exited with {rc}")
    print(f"[perfbench] JVM {time.time() - jvm0:.1f} s", file=sys.stderr)

    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    problems = checks.run(args.workload, res["checks"], data)
    for p in problems:
        print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
    if set(res["metrics"]) != set(units):
        raise SystemExit(f"perfbench: metrics {sorted(res['metrics'])} "
                         f"do not match BENCHMARK.json {sorted(units)}")
    if args.trace:
        traces = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(res["correct"]) and not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
