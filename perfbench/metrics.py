"""Turns one run's raw result (ops, spans, counters) into metrics.

End-to-end metrics come from the untraced operations of the run's
fixed window only (operations run after it, to fill --seconds, are
checked but never measured). Per-layer metrics come from the spans of
the traced operations, which a --trace 1 run makes alongside untraced
ones so that the tracing overhead is measured in the same run. Every
workload prints every metric of its kind; a layer a workload never
enters reads 0 with sample count 0.
"""
import statistics

# (name, unit) of every per-layer metric of BENCHMARK.json, in its order
PER_LAYER = [
    ("etl.CsvSource.s", "s"), ("etl.CsvSource.jobs", "count"),
    ("etl.ParseValidate.self_s", "s"), ("etl.Normalize.self_s", "s"),
    ("etl.Dedup.self_s", "s"), ("etl.Dedup.shuffle_bytes", "bytes"),
    ("etl.Sinks.inserted_s", "s"), ("etl.Sinks.duplicates_s", "s"),
    ("etl.Sinks.bytes_written", "bytes"), ("etl.Stats.s", "s"),
    ("etl.Pipeline.annotate.s", "s"), ("etl.Pipeline.run.s", "s"),
    ("etl.Pipeline.run.self_s", "s"), ("etl.rows_in", "rows"),
    ("etl.rows_invalid", "rows"), ("etl.rows_duplicate", "rows"),
    ("etl.rows_inserted", "rows"),
    ("streaming.batch_s.p50", "s"), ("streaming.batch_s.max", "s"),
    ("streaming.state_bytes", "bytes"), ("streaming.checkpoint_files", "count"),
    ("cache.storage_mb_peak", "MB"), ("queries.CoreQueries.p50_s", "s"), ("ext.TemporalOps.p50_s", "s"),
    ("ext.GraphOps.p50_s", "s"), ("plans.Layouts.p50_s", "s"),
    ("query.construct_s.p50", "s"), ("query.execute_s.p50", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.task_gc_s", "s"), ("spark.task_wait_s", "s"), ("spark.core_busy_share", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_share", "ratio"),
]

END_TO_END = [("setup_s", "s"), ("work_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s")]

QUERY_MODULES = {"queries.CoreQueries.p50_s": "queries.CoreQueries.",
                 "ext.TemporalOps.p50_s": "ext.TemporalOps.",
                 "ext.GraphOps.p50_s": "ext.GraphOps.", "plans.Layouts.p50_s": "plans.Layouts."}
ENGINE = {"spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
          "spark.failed_tasks": "failed_tasks", "spark.task_run_s": "task_run_s",
          "spark.task_cpu_s": "task_cpu_s", "spark.task_gc_s": "task_gc_s",
          "spark.task_wait_s": "task_wait_s", "spark.shuffle_write_bytes": "shuffle_write_bytes",
          "spark.shuffle_read_bytes": "shuffle_read_bytes", "spark.spill_bytes": "spill_bytes",
          "catalyst.analysis_s": "analysis_s", "catalyst.optimization_s": "optimization_s",
          "catalyst.planning_s": "planning_s"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def measured(res):
    """The operations of the fixed window."""
    return res["ops"][:res["measured_ops"]]


def units(res, traced=False):
    """(unit-of-work seconds, per-operation latencies) of one run.

    Unit of work: etl_batch one ETL job, etl_stream one stream run (first
    batch offered to last batch committed), query_mix one full round of
    the row set. Operation: etl_batch one ETL job (the same job as the
    unit), etl_stream one micro-batch, query_mix one query."""
    w = res["workload"]
    ops = [o for o in measured(res) if o.get("traced", False) == traced and "error" not in o]
    if w == "etl_batch":
        lat = [o["secs"] for o in ops if o["kind"] == "etl"]
        return lat, lat
    if w == "etl_stream":
        runs = [o for o in ops if o["kind"] == "stream"]
        return [o["secs"] for o in runs], [b for o in runs for b in o["batch_s"]]
    queries = [o for o in ops if o["kind"] == "query"]
    n_rows = len({o["row"] for o in queries})
    rounds = {}
    for o in queries:
        rounds.setdefault(o["round"], []).append(o["secs"])
    return [sum(v) for v in rounds.values() if len(v) == n_rows], [o["secs"] for o in queries]


def end_to_end(res):
    """work_s is the fixed window's wall time per unit of work, so it
    includes what happens between units (on etl_batch it is the mean of
    the same jobs whose median is op_p50_s)."""
    _, lat = units(res)
    values = {"setup_s": res["setup_s"], "work_s": res["window_s"] / res["units"],
              "op_p50_s": median(lat), "op_p90_s": p90(lat)}
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def report(res, inputs, checked):
    """The run's figures under their workload-specific names, with sample
    counts: etl_rows_per_s, stream_rows_per_s, query_p50_s, query_p90_s,
    and the shared setup_s, cached_mb_peak, failed_share."""
    work, lat = units(res)
    w = res["workload"]
    out = {"setup_s": {"value": res["setup_s"], "unit": "s", "n": 1},
           "cached_mb_peak": {"value": res["storage_peak_mb"], "unit": "MB"},
           "failed_share": {"value": checked["failed"] / max(1, checked["attempted"]),
                            "unit": "ratio", "n": checked["attempted"]}}
    if w in ("etl_batch", "etl_stream"):
        name = "etl_rows_per_s" if w == "etl_batch" else "stream_rows_per_s"
        out[name] = {"value": inputs["rows"] / median(work), "unit": "rows/s", "n": len(work)}
    else:
        p = p90(lat)
        out["query_p50_s"] = {"value": median(lat), "unit": "s", "n": len(lat)}
        out["query_p90_s"] = {"value": p, "unit": "s", "n": len(lat),
                              "samples_above": sum(1 for x in lat if x > p)}
        out["oracle_checked_rows"] = checked["oracle_checked"]
    return out


def context(res, load_start, load_end):
    return {"nproc": res["cores"], "master": res["master"],
            "driver_heap_mb": res["driver_heap_mb"], "spark_version": res["spark_version"],
            "loadavg_start": load_start[0], "loadavg_end": load_end[0],
            "epoch_probe_s": res["epoch_probe_s"], "epoch_probe_gated": False,
            "window_s": res["window_s"], "jvm_wall_s": res["jvm_wall_s"],
            "inputs": "generated from --seed (taxi CSV or parquet tables)",
            "reference_csv": "not used: the reference taxi CSV is absent, so the "
                             "30000/29855/145/15/29840 golden parity is not part of "
                             "this benchmark"}


def per_layer(res):
    spans = res["spans"]
    ops = measured(res)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end_s"] - s["start_s"]

    def named(n):
        return [s for s in spans if s["name"] == n]

    def durs(n):
        return [dur(s) for s in named(n)]

    def subtree(s):
        yield s
        for k in kids.get(s["id"], []):
            yield from subtree(k)

    m = {}

    def put(name, xs, agg=median):
        m[name] = {"value": agg(xs) if xs else 0.0, "n": len(xs)}

    # etl prefix cuts: self time of a layer = prefix with it - prefix without
    cuts = {c: durs(f"cut.{c}") for c in ("read", "parse", "normalize", "dedup")}
    put("etl.CsvSource.s", cuts["read"])
    put("etl.CsvSource.jobs",
        [s["counters"].get("jobs", 0) for s in named("etl.Pipeline.annotate")])
    put("etl.ParseValidate.self_s", [b - a for a, b in zip(cuts["read"], cuts["parse"])])
    put("etl.Normalize.self_s", [b - a for a, b in zip(cuts["parse"], cuts["normalize"])])
    put("etl.Dedup.self_s", [b - a for a, b in zip(cuts["normalize"], cuts["dedup"])])
    put("etl.Dedup.shuffle_bytes",
        [s["counters"].get("shuffle_write_bytes", 0) for s in named("cut.dedup")])
    put("etl.Sinks.inserted_s", durs("etl.Sinks.writeInserted"))
    put("etl.Sinks.duplicates_s", durs("etl.Sinks.writeDuplicates"))
    put("etl.Sinks.bytes_written",
        [a["counters"].get("bytes_written", 0) + b["counters"].get("bytes_written", 0)
         for a, b in zip(named("etl.Sinks.writeInserted"), named("etl.Sinks.writeDuplicates"))])
    put("etl.Stats.s", durs("etl.Stats.compute"))
    put("etl.Pipeline.annotate.s", durs("etl.Pipeline.annotate"))
    runs = named("etl.Pipeline.run")
    put("etl.Pipeline.run.s", [dur(s) for s in runs])
    put("etl.Pipeline.run.self_s",
        [dur(s) - sum(dur(k) for k in kids.get(s["id"], [])) for s in runs])
    counted = [o["counters"] for o in ops if o["kind"] in ("etl", "stream")]
    for name, key in (("etl.rows_in", "total"), ("etl.rows_invalid", "invalid"),
                      ("etl.rows_duplicate", "duplicates"), ("etl.rows_inserted", "inserted")):
        put(name, [c[key] for c in counted])

    batches = durs("streaming.batch")
    put("streaming.batch_s.p50", batches)
    put("streaming.batch_s.max", batches, max)
    streams = [o for o in ops if o["kind"] == "stream" and o["traced"]]
    put("streaming.state_bytes", [o["state_bytes"] for o in streams])
    put("streaming.checkpoint_files", [o["checkpoint_files"] for o in streams])

    for name, prefix in QUERY_MODULES.items():
        put(name, [dur(s) for s in spans if s["parent"] == -1 and s["name"].startswith(prefix)])
    put("query.construct_s.p50", durs("query.construct"))
    put("query.execute_s.p50", durs("query.execute"))

    # per traced unit of work (a root span: an ETL job, a stream run, a
    # query); the prefix cuts are layer probes, not operations. Engine
    # counters are per job group, so a root's subtree adds up; JVM and
    # codegen counters are process-wide, so only the root's own count.
    roots = [s for s in spans if s["parent"] == -1 and not s["name"].startswith("cut.")]
    for name, key in ENGINE.items():
        put(name, [sum(x["counters"].get(key, 0) for x in subtree(r)) for r in roots])
    for name, key in (("codegen.compile_s", "codegen_compile_s"),
                      ("codegen.classes", "codegen_classes"), ("jvm.gc_s", "jvm_gc_s")):
        put(name, [r["jvm"].get(key, 0) for r in roots], statistics.fmean)
    m["jvm.heap_peak_mb"] = {"value": res["heap_peak_mb"], "n": 1}
    m["cache.storage_mb_peak"] = {"value": res["storage_peak_mb"], "n": 1}
    m["spark.core_busy_share"] = {
        "value": res["totals"].get("task_run_s", 0) / (res["window_s"] * res["cores"]),
        "n": 1}

    untraced, traced = units(res, False)[0], units(res, True)[0]
    m["trace.overhead_share"] = {
        "value": median(traced) / median(untraced) - 1 if traced and untraced else 0.0,
        "n": min(len(traced), len(untraced))}
    return {k: {"value": m[k]["value"], "unit": u, "n": m[k]["n"]} for k, u in PER_LAYER}
