"""Benchmark entry point: build, generate seeded inputs, run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source (``build.py``),
generates the workload's inputs from the seed (``gen.py``), then runs the
program in one JVM on ``local[<cores>]``. With ``--trace 0`` it reports the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the per-layer
metrics of a traced run, whose spans are left in
``.bench_build/work/<workload>/spans.jsonl``. Every metric is printed by
name with its unit, then the last line of standard output is the result
as one JSON object. Everything the run writes stays under ``.bench_build``.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
JVM_TIMEOUT_S = 170

# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java_cmd(cp, archive_flag, workload, data, work, seconds, trace, out):
    # a fixed-size heap with the throughput collector: G1's heap resizing
    # and concurrent work made pass times bimodal from run to run
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
             archive_flag,
             "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", data,
               "--work", work, "--seconds", str(seconds), "--trace", str(trace),
               "--out", out])


def run_jvm(cmd, log):
    """Run the benchmark JVM, logging to `log`; exit on failure or timeout."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("benchmark JVM timed out after %ds, see %s" % (JVM_TIMEOUT_S, log))
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit("benchmark JVM failed (exit %d), see %s" % (rc, log))


def build_all():
    """Build, then record the class-data-sharing archive if there is none:
    one set-up of weather_batch (``--seconds 0`` stops after set-up, which
    includes a warm-up pass) lists the classes a run loads, and every later run maps them from the
    archive instead of loading and verifying them again."""
    cp = build.build()
    if not os.path.exists(build.ARCHIVE):
        data = os.path.join(BUILD, "data", "weather_batch-0")
        gen.generate("weather_batch", 0, data)
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        run_jvm(java_cmd(cp, "-XX:ArchiveClassesAtExit=" + build.ARCHIVE, "weather_batch",
                         data, os.path.join(BUILD, "work", "archive"), 0, 0,
                         os.path.join(BUILD, "archive-result.json")),
                os.path.join(BUILD, "archive.log"))
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build_all()

    data = os.path.join(BUILD, "data", "%s-%d" % (a.workload, a.seed))
    t0 = time.time()
    gen.generate(a.workload, a.seed, data)
    gen_s = time.time() - t0

    work = os.path.join(BUILD, "work", a.workload)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    result_file = os.path.join(BUILD, "result-%s.json" % a.workload)
    if os.path.exists(result_file):
        os.remove(result_file)
    run_jvm(java_cmd(cp, "-XX:SharedArchiveFile=" + build.ARCHIVE, a.workload, data, work,
                     a.seconds, a.trace, result_file),
            os.path.join(logs, "%s-%d-trace%d.log" % (a.workload, a.seed, a.trace)))

    with open(result_file) as f:
        res = json.load(f)
    measured = res["metrics"]
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics, absent = {}, []
    for m in wanted:
        if m["name"] not in measured:
            absent.append(m["name"])
        metrics[m["name"]] = {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
    if absent:
        # layers this workload does not exercise
        print("not exercised by %s (reported as 0): %s" % (a.workload, ", ".join(absent)),
              file=sys.stderr)

    print("workload %s  seed %d  trace %d  inputs generated in %.2f s" % (
        a.workload, a.seed, a.trace, gen_s))
    for k, v in metrics.items():
        print("  %-44s %14.4f %s" % (k, v["value"], v["unit"]))
    for k in sorted(set(measured) - set(metrics) - {"error_rate"}):
        print("  %-44s %14.4f" % (k, measured[k]))
    print("  %-44s %14.4f ratio" % ("error_rate", measured["error_rate"]))
    for k, v in res["notes"].items():
        print("  note %s: %s" % (k, v))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
