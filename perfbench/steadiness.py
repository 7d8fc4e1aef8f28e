"""Steadiness self-check: run the benchmark twice on the same code and
compare the two sets of runs against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workload NAME ...]

Each set runs every workload ``--runs`` times untraced, each run with its
own seed. Per workload and end-to-end metric it prints each set's median
and quartiles (``statistics.quantiles(values, n=4)``) and the spread, the
distance between the quartiles as a share of the median. A metric passes
when every set's spread is within its bound and the second set's median
is not worse than the first's by more than the bound. Exits 1 if any metric fails. The report is also written to
``.bench_build/steadiness.json``.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit("%s seed %d failed:\n%s" % (workload, seed, out.stderr[-3000:]))
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit("%s seed %d: %d of %d checks failed" % (
            workload, seed, res["failed"], res["attempted"]))
    return {k: v["value"] for k, v in res["metrics"].items()}


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return dict(median=med, q1=q1, q3=q3, spread=(q3 - q1) / med)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed-base", type=int, default=1000)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report, ok = {}, True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = a.seed_base + s * a.runs + i
                runs.append(one_run(w, seed, spec["run_seconds"]))
                print("%s set %d seed %d: %s" % (w, s + 1, seed, " ".join(
                    "%s=%.4g" % kv for kv in runs[-1].items())), flush=True)
            sets.append(runs)
        report[w] = {}
        print("\n== %s: %d set(s) of %d runs ==" % (w, a.sets, a.runs))
        print("%-18s %-5s %12s %12s %12s %8s %7s  %s" % (
            "metric", "set", "median", "q1", "q3", "spread", "bound", "verdict"))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per_set = [stats([r[name] for r in runs]) for runs in sets]
            verdicts = []
            for i, st in enumerate(per_set):
                bad = st["spread"] > bound
                verdicts.append("spread>bound" if bad else "ok")
                ok &= not bad
            if len(per_set) > 1:
                a0, a1 = per_set[0]["median"], per_set[-1]["median"]
                worse = (a1 - a0) / a0 if m["better"] == "lower" else (a0 - a1) / a0
                if worse > bound:
                    verdicts[-1] = "median worse by %.1f%%" % (worse * 100)
                    ok = False
            for i, st in enumerate(per_set):
                print("%-18s %-5d %12.4f %12.4f %12.4f %7.1f%% %6.0f%%  %s" % (
                    name, i + 1, st["median"], st["q1"], st["q3"], st["spread"] * 100,
                    bound * 100, verdicts[i]))
            report[w][name] = per_set
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
