"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 6 --trace 0

Builds the program from source (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), runs the workload in one JVM
(perfbench/scala/graftbench/Main.scala: local[nproc], one closed-loop
client, every output written with a real sink), checks every output
(perfbench/check.py), and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) of BENCHMARK.json. The lines before it carry the machine
context, the run's figures under their workload names (--trace 0) or
every per-layer value with its sample count and the file holding the
spans (--trace 1). Workloads and metrics are described in
perfbench/NOTES.md.
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
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_batch", "etl_stream", "query_mix")
# Input sizes: far below the sizing runs in NOTES.md, so that 4 + 22 runs
# per workload fit the time budget; etl_batch is large enough that
# ParseValidate, not the per-job fixed cost, is the largest part of a job.
TAXI_ROWS = {"etl_batch": 50000, "etl_stream": 6000}
# Measured units of work per run, fixed so that every run (and the parent
# and a change) measures the same samples: ETL jobs, stream runs of 3
# micro-batches, rounds over the query rows. --seconds only pads a run
# that finishes them sooner, with operations left out of the metrics.
UNITS = {"etl_batch": 3, "etl_stream": 1, "query_mix": 2}
TABLES_SF = 0.01
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"


def make_inputs(workload, seed, data):
    data.mkdir(parents=True)
    if workload in TAXI_ROWS:
        lines = gen.taxi_lines(seed, TAXI_ROWS[workload])
        (data / "taxi.csv").write_text("\n".join(lines) + "\n")
        return {"rows": TAXI_ROWS[workload], "expected": gen.replay_counters(lines)}
    gen.write_tables(seed, str(data), TABLES_SF)
    return {}


def run_jvm(classpath, argv, work):
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + argv
    (work / "tmp").mkdir()
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    load_start = os.getloadavg()
    inputs = make_inputs(a.workload, a.seed, work / "data")
    t0 = time.time()
    rc = run_jvm(classpath, [a.workload, str(a.seconds), str(a.trace), str(work / "data"),
                             str(work), str(work / "result.json"), str(a.seed),
                             str(UNITS[a.workload])], work)
    if rc != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"workload JVM failed (exit {rc})")
    # the raw result (ops, spans, counters) outlives the work directory
    result = work.parent / f"{work.name}.json"
    shutil.move(work / "result.json", result)
    res = json.loads(result.read_text())
    res["jvm_wall_s"] = time.time() - t0
    checked = check.check(res, inputs, work / "data")
    context = metrics.context(res, load_start, os.getloadavg())
    print(json.dumps({"context": context}))
    if a.trace:
        layer = metrics.per_layer(res)
        print(json.dumps({"per_layer_detail": layer,
                          "spans_file": str(result.relative_to(build.ROOT))}))
        values = {k: {"value": layer[k]["value"], "unit": u} for k, u in metrics.PER_LAYER}
    else:
        values = metrics.end_to_end(res)
        print(json.dumps({"report": metrics.report(res, inputs, checked)}))
    if checked["problems"]:
        print(json.dumps({"problems": checked["problems"][:20]}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": checked["failed"] == 0, "attempted": checked["attempted"],
                      "failed": checked["failed"], "metrics": values}))


if __name__ == "__main__":
    main()
