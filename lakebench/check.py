"""Checks on the benchmark itself, run from the root of a checkout.

    python3 lakebench/check.py spread  --workload W --seeds 1 2 3 ...
        Untraced runs, one per seed; prints each end-to-end metric's median
        and quartile spread (IQR / median) against its bound in BENCHMARK.json.
    python3 lakebench/check.py repeat  --workload W --seed N
        Two traced runs with seed N and one with seed N+1: the exact counts
        (jobs per op, rows, compactions, table files, duplicate drop ratio,
        input hash) must repeat on the same seed, and the input hash must
        change with the seed.
    python3 lakebench/check.py overhead --workload W --seed N
        One untraced and one traced run with the same seed; prints traced
        minus untraced for each end-to-end metric, latencies compared over
        the loop iterations both runs completed.
Exits non-zero when a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}, trace {trace}): {p.stderr[-2000:]}")
    detail = next(json.loads(x[7:]) for x in lines if x.startswith("detail "))
    return json.loads(lines[-1]), detail


def spread(args):
    values = {m["name"]: [] for m in BENCH["end_to_end"]}
    for s in args.seeds:
        last, _ = run(args.workload, s, 0)
        for k in values:
            values[k].append(last["metrics"][k]["value"])
    ok = True
    for m in BENCH["end_to_end"]:
        v = values[m["name"]]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        iqr = (q[2] - q[0]) / med
        good = iqr <= m["bound"]
        ok &= good
        print(f"{m['name']:<18} median {med:12.4f} {m['unit']:<5} spread {iqr:6.3f}"
              f" bound {m['bound']} {'ok' if good else 'OVER'}")
    return ok


def repeat(args):
    (la, a), (lb, b), (_, c) = (run(args.workload, s, 1) for s in (args.seed, args.seed, args.seed + 1))
    ok = True
    for k in ("input_hash", "rows_committed", "table_files", "retained_versions", "writes"):
        same = a["counts"][k] == b["counts"][k]
        ok &= same
        print(f"{k:<18} {a['counts'][k]!s:>14} {b['counts'][k]!s:>14} {'same' if same else 'DIFFERENT'}")
    n = min(len(a["op_counts"]), len(b["op_counts"]))
    same_ops = a["op_counts"][:n] == b["op_counts"][:n]
    ok &= same_ops and n > 0
    print(f"per-op jobs, rows and compactions over the first {n} traced ops: "
          f"{'same' if same_ops else 'DIFFERENT'}")
    if len(a["op_counts"]) == len(b["op_counts"]):
        for k in ("ext.dup_drop_ratio", "pipeline.compactions"):
            x, y = la["metrics"][k]["value"], lb["metrics"][k]["value"]
            ok &= x == y
            print(f"{k:<18} {x!s:>14} {y!s:>14} {'same' if x == y else 'DIFFERENT'}")
    moved = a["counts"]["input_hash"] != c["counts"]["input_hash"]
    ok &= moved
    print(f"input hash with seed {args.seed + 1}: {'changed' if moved else 'UNCHANGED'}")
    return ok


def iterations(op_seconds):
    """Split [kind, seconds, traced] records into loop iterations; each
    iteration starts with its write op."""
    its = []
    for kind, secs, traced in op_seconds:
        if kind == "write":
            its.append([])
        if its:
            its[-1].append((kind, secs, traced))
    return its


def overhead(args):
    _, plain = run(args.workload, args.seed, 0)
    _, traced = run(args.workload, args.seed, 1)
    # compare the loop iterations both runs completed: same seed, same
    # inputs, same merge-on-read state at each iteration
    a, b = iterations(plain["op_seconds"]), iterations(traced["op_seconds"])
    n = min(len(a), len(b))

    def pick(its, kind):
        return [s for it in its[:n] for k, s, _ in it if k == kind]

    for kind in ("write", "read"):
        x, y = pick(a, kind), pick(b, kind)
        if x and y:
            print(f"{kind}_p50_s untraced {statistics.median(x):.4f} traced "
                  f"{statistics.median(y):.4f} overhead "
                  f"{statistics.median(y) - statistics.median(x):+.4f} s"
                  f" (first {n} iterations)")
            print(f"{kind}_tail_s untraced {max(x):.4f} traced {max(y):.4f} overhead "
                  f"{max(y) - max(x):+.4f} s")
    for m in ("setup_s", "warehouse_mb", "heap_after_gc_mb"):
        x = plain["end_to_end"][m]["value"]
        y = traced["end_to_end"][m]["value"]
        print(f"{m} untraced {x:.4f} traced {y:.4f} overhead {y - x:+.4f}")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("check", choices=("spread", "repeat", "overhead"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, nargs="*", default=list(range(1, 11)))
    args = ap.parse_args()
    ok = {"spread": spread, "repeat": repeat, "overhead": overhead}[args.check](args)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
