"""The lakehouse benchmark: one workload, one seed, one JVM.

Usage (from the root of a checkout):

    python3 lakebench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Builds the program from source (see build.py), runs the workload's closed
loop in a fresh scratch root under .bench_build that holds the warehouse,
java.io.tmpdir and spark.local.dir, deletes the root, and prints a report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero when a correctness gate fails, when the run
leaves files behind, or when the program cannot be built or run.
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
import build  # noqa: E402

WORKLOADS = ("cdc_ingest", "llm_curation")
HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def top_level(path):
    return set(os.listdir(path))


def run(args):
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(str(e), 2)
    launched_ms = int(time.time() * 1000)
    bench = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    wanted = bench["end_to_end"] if args.trace == "0" else bench["per_layer"]

    before = top_level(build.ROOT)
    scratch = os.path.join(build.OUT, f"run-{os.getpid()}-{launched_ms}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, d))
    out = os.path.join(scratch, "result.json")
    log = os.path.join(build.OUT, f"run-{os.getpid()}-{launched_ms}.log")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.callstack.depth=64"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", cp, "lakebench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--root", scratch, "--out", out,
            "--launched-ms", str(launched_ms)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{scratch}/local")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(scratch, ignore_errors=True)
            os.remove(log)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    result = None
    if code == 0 and os.path.isfile(out):
        result = json.load(open(out))
    shutil.rmtree(scratch, ignore_errors=True)
    debris = sorted(top_level(build.ROOT) - before)
    if os.path.exists(scratch) or debris:
        fail(f"the run left files behind: {debris or [scratch]}", 3)
    if result is None:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        os.remove(log)
        fail(f"the JVM {'timed out' if code is None else f'exited with {code}'}:\n{tail}")
    os.remove(log)

    report = result["report"]
    print(f"workload {report['workload']} seed {report['seed']} trace {int(report['trace'])}"
          f" timed {report['timed_s']:.1f} s, setups {report['setup_reps_s']}")
    print("config " + json.dumps(report["config"], sort_keys=True))
    for k, m in sorted(report["end_to_end"].items()):
        extra = ", ".join(f"{x}={m[x]}" for x in sorted(m) if x not in ("value", "unit"))
        print(f"  {k:<18} {m['value']!s:>14} {m['unit']:<6} {extra}")
    print(f"  {'failed_ratio':<18} {report['failed_ratio']!s:>14} ratio  "
          f"n={result['attempted']} errors={report['errors']}")
    for g in report["gates"]:
        print(f"  gate {'ok  ' if g['ok'] else 'FAIL'} {g['name']}"
              + ("" if g["ok"] else f": {g['detail']}"))
    print("shares " + json.dumps(report["shares"], sort_keys=True))
    print("detail " + json.dumps({k: report[k] for k in
                                  ("end_to_end", "counts", "op_counts",
                                            "op_seconds", "shares", "spans")}))

    metrics = {}
    for want in wanted:
        m = result["metrics"].get(want["name"])
        if m is None:
            fail(f"the run did not report metric {want['name']}")
        value = m["value"]
        if value is None:  # a latency made infinite by failed ops
            value = 1e9
        metrics[want["name"]] = {"value": value, "unit": want["unit"]}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    if not result["correct"] or result["failed"]:
        sys.exit(4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    run(ap.parse_args())


if __name__ == "__main__":
    main()
