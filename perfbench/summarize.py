"""Trace summarizer: per-layer self time, Spark counts per span, and the
traced-vs-untraced overhead, for one workload or for all of them.

    python3 perfbench/summarize.py [--workload NAME ...] [--seed N] [--seconds S]

For each workload it runs the benchmark untraced (``--trace 0``) and then
traced (``--trace 1``) with the same seed, reads the spans the traced run
left in ``.bench_build/work/<workload>/spans.jsonl`` and prints, per span
name: calls, total and self seconds, Spark jobs, tasks, task busy time,
shuffle write, spill and input. Self time is a span's duration minus what
its child spans cover, minus the prefix it subtracts (see Trace.scala).
Totals are divided by the number of operations (root spans of the
workload's operation: the pass on weather and curation, the landing on
stream) so rows read per operation. The overhead lines compare the traced
run's median operation with the untraced run's ``wall_s`` (weather,
curation) or ``latency_p50_ms`` (stream), and repeat the in-process
estimate the traced run reports.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_SPAN = {"weather_batch": "weather.pass", "curation_dedup": "curation.pass",
           "stream_ingest": "streaming.chunk", "serve_lookups": "serve.lookup"}
# the untraced metric (in ms) the root span's median duration compares with
BASE_MS = {"weather_batch": ("wall_s", 1e3), "curation_dedup": ("wall_s", 1e3),
           "stream_ingest": ("latency_p50_ms", 1.0), "serve_lookups": ("latency_p50_ms", 1.0)}


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit("%s trace %d failed:\n%s" % (workload, trace, out.stderr[-3000:]))
    return json.loads(out.stdout.strip().splitlines()[-1])


def self_ns(span, children):
    covered, cur_s, cur_e = 0, None, None
    for c in sorted(children, key=lambda c: c["start_ns"]):
        if cur_e is None or c["start_ns"] > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = c["start_ns"], c["end_ns"]
        else:
            cur_e = max(cur_e, c["end_ns"])
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0, span["end_ns"] - span["start_ns"] - covered - span["minus_ns"])


def summarize(workload, spans, plain, traced):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    ops = [s for s in spans if s["parent"] == 0 and s["name"] == OP_SPAN[workload]]
    n_ops = max(1, len(ops))
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], dict(calls=0, total=0.0, self=0.0, jobs=0, tasks=0,
                                            busy=0.0, shuffle=0.0, spill=0.0, input=0.0))
        r["calls"] += 1
        r["total"] += (s["end_ns"] - s["start_ns"]) / 1e9
        r["self"] += self_ns(s, kids.get(s["id"], [])) / 1e9
        r["jobs"] += s["jobs"]
        r["tasks"] += s["tasks"]
        r["busy"] += s["busy_ms"] / 1e3
        r["shuffle"] += s["shuffle_write_b"] / 2 ** 20
        r["spill"] += s["spill_b"] / 2 ** 20
        r["input"] += s["input_b"] / 2 ** 20
    print("\n== %s: %d operations traced (per-operation figures) ==" % (workload, len(ops)))
    print("%-42s %6s %9s %9s %6s %7s %8s %9s %8s %8s" % (
        "span", "calls", "total_s", "self_s", "jobs", "tasks", "busy_s", "shuf_MB",
        "spill_MB", "in_MB"))
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self"]):
        print("%-42s %6.1f %9.3f %9.3f %6.1f %7.1f %8.3f %9.3f %8.3f %8.3f" % (
            name, r["calls"] / n_ops, r["total"] / n_ops, r["self"] / n_ops,
            r["jobs"] / n_ops, r["tasks"] / n_ops, r["busy"] / n_ops,
            r["shuffle"] / n_ops, r["spill"] / n_ops, r["input"] / n_ops))
    if ops:
        op_ms = statistics.median((s["end_ns"] - s["start_ns"]) / 1e6 for s in ops)
        name, scale = BASE_MS[workload]
        base = plain["metrics"][name]["value"] * scale
        print("overhead: traced median %s %.1f ms vs untraced run %s %.1f ms: %+.1f%%" % (
            OP_SPAN[workload], op_ms, name, base, (op_ms / base - 1) * 100))
    print("overhead within the traced run (untraced pass vs traced pass): %+.1f%%" %
          traced["metrics"]["trace.overhead_pct"]["value"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    help="workload to summarize (repeatable; default: all in BENCHMARK.json)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    for w in workloads:
        plain = run(w, a.seed, seconds, 0)
        traced = run(w, a.seed, seconds, 1)
        with open(os.path.join(ROOT, ".bench_build", "work", w, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        summarize(w, spans, plain, traced)


if __name__ == "__main__":
    main()
