"""Per-layer metrics of a traced run, computed from the harness's raw records.

Every name is emitted on every workload; a layer that does no timed work on
a workload reports 0 there. A traced run traces every other block of ops
(a dashboard block, a corpus pass); times and counts are means over the
traced ops unless the name says otherwise, and `trace.overhead_pct` compares
their per-template median latency (geometric mean over the templates) with
the untraced ops'.
"""
from metrics import mean, ms, self_times, template_p50_gmean, timed_ops, union_length

LLM_CALLS = ("curation_pipeline", "dedup_clusters", "quality_gopher", "decontaminate",
             "shared_spans", "decode_jpeg_color", "decode_png", "decode_avi_mjpeg",
             "ivf_search")

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "etl.build_call_ms": "ms", "etl.dims_ms": "ms", "etl.sales_final_ms": "ms",
    "etl.dim_date_ms": "ms", "etl.facts_ms": "ms", "etl.task_cpu_ms": "ms",
    "etl.cpu_util": "ratio", "etl.shuffle_write_bytes": "bytes", "etl.spill_bytes": "bytes",
    "etl.cache_bytes": "bytes", "etl.stages": "count",
    "olap.construct_ms": "ms", "measures.construct_ms": "ms", "perf.construct_ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.driver_share": "ratio",
    "spark.exec_ms": "ms", "spark.queue_wait_ms": "ms", "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count", "spark.task_cpu_ms_per_query": "ms",
    "spark.shuffle_bytes_per_query": "bytes", "spark.scan_rows_per_result_row": "ratio",
    "sources.sql_parse_plan_ms": "ms", "prepared.serve_ms": "ms",
    **{f"llm.{c}_ms": "ms" for c in LLM_CALLS},
    "llm.task_cpu_ms": "ms", "llm.cpu_util": "ratio", "llm.shuffle_bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "trace.op_self_ms": "ms", "trace.overhead_pct": "%",
}


def per_layer(raw):
    out = dict.fromkeys(UNITS, 0.0)
    spans = raw.get("spans", [])
    groups = raw.get("groups", {})
    jobs = raw.get("jobs", [])
    phases = raw.get("phases", {})
    c = raw["counters"]
    cores = c["cores"]
    traced = timed_ops(raw, traced=True)
    untraced = timed_ops(raw, traced=False)
    ids = {o["id"] for o in traced}
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp[1], []).append(sp)

    def span_ms(name):
        """Mean duration of the spans called `name` inside traced timed ops."""
        return mean(ms(sp[3] - sp[2]) for sp in by_name.get(name, []) if sp[5] in ids)

    # etl: the dashboard's set-up build
    for step in ("build_call", "dims", "sales_final", "dim_date", "facts"):
        sel = by_name.get(f"etl.{step}", [])
        out[f"etl.{step}_ms"] = sum(ms(sp[3] - sp[2]) for sp in sel)
    g = groups.get("etl")
    if g:
        etl_wall = sum(sp[3] - sp[2] for n, ss in by_name.items() if n.startswith("etl.") for sp in ss)
        out["etl.task_cpu_ms"] = ms(g["cpu_ns"])
        out["etl.cpu_util"] = g["cpu_ns"] / (etl_wall * cores) if etl_wall else 0.0
        out["etl.shuffle_write_bytes"] = g["shuffle_write"]
        out["etl.spill_bytes"] = g["spill"]
        out["etl.stages"] = g["stages"]
    out["etl.cache_bytes"] = c.get("etl_cache_bytes", 0)

    for layer in ("olap", "measures", "perf"):
        out[f"{layer}.construct_ms"] = span_ms(f"{layer}.construct")

    # Spark driver and execution, over the DataFrame ops of the window
    df_ops = [o for o in traced if o.get("qe") is not None]
    ph = [phases.get(str(o["qe"]), [0, 0, 0]) for o in df_ops]
    if df_ops:
        out["spark.analysis_ms"] = mean(p[0] for p in ph)
        out["spark.optimization_ms"] = mean(p[1] for p in ph)
        out["spark.planning_ms"] = mean(p[2] for p in ph)
        construct = {sp[5]: sp[3] - sp[2] for n, ss in by_name.items()
                     if n.endswith(".construct") for sp in ss if sp[5] in ids}
        driver = sum(ms(construct.get(o["id"], 0)) + sum(p) for o, p in zip(df_ops, ph))
        out["spark.driver_share"] = driver / sum(ms(o["dur_ns"]) for o in df_ops)
    queries = [o for o in traced if o["kind"] == "query"]
    if queries:
        n = len(queries)
        qids = {f"op-{o['id']}" for o in queries}
        qjobs = [j for j in jobs if j[0] in qids]
        per_op = {}
        for j in qjobs:
            if j[3] >= 0:
                per_op.setdefault(j[0], []).append((j[1], j[3]))
        out["spark.exec_ms"] = sum(union_length(v) for v in per_op.values()) / n
        waits = [j[2] - j[1] for j in qjobs if j[2] >= 0]
        out["spark.queue_wait_ms"] = mean(waits)
        qg = [groups[q] for q in qids if q in groups]
        out["spark.jobs_per_query"] = sum(x["jobs"] for x in qg) / n
        out["spark.stages_per_query"] = sum(x["stages"] for x in qg) / n
        out["spark.task_cpu_ms_per_query"] = ms(sum(x["cpu_ns"] for x in qg)) / n
        out["spark.shuffle_bytes_per_query"] = sum(x["shuffle_write"] for x in qg) / n
        scanned = [o for o in queries if o.get("scan_rows") is not None]
        result_rows = sum(o["rows"] for o in scanned)
        if result_rows:
            out["spark.scan_rows_per_result_row"] = sum(o["scan_rows"] for o in scanned) / result_rows

    # sources: SQL surface and prepared handles
    sql_ops = [o for o in traced if o["template"] == "sql_olap_q1"]
    if sql_ops:
        sc = {sp[5]: ms(sp[3] - sp[2]) for sp in by_name.get("sources.construct", []) if sp[5] in ids}
        out["sources.sql_parse_plan_ms"] = mean(
            sc.get(o["id"], 0) + sum(phases.get(str(o["qe"]), [0, 0, 0])[1:]) for o in sql_ops)
    out["prepared.serve_ms"] = span_ms("prepared.serve")

    # llm / functions
    calls = [o for o in traced if o["kind"] == "call"]
    if calls:
        for name in LLM_CALLS:
            out[f"llm.{name}_ms"] = mean(ms(o["dur_ns"]) for o in calls if o["template"] == name)
        cg = [groups[f"op-{o['id']}"] for o in calls if f"op-{o['id']}" in groups]
        wall = sum(o["dur_ns"] for o in calls)
        passes = len({o["pass"] for o in calls})
        out["llm.task_cpu_ms"] = ms(sum(x["cpu_ns"] for x in cg)) / passes
        out["llm.cpu_util"] = sum(x["cpu_ns"] for x in cg) / (wall * cores)
        out["llm.shuffle_bytes"] = sum(x["shuffle_write"] for x in cg) / passes

    out["jvm.gc_ms"] = c["gc_ms_at_end"] - c["gc_ms_at_start"]
    out["jvm.heap_peak_mb"] = c["heap_peak_mb"]

    selfs = self_times(spans)
    op_spans = [sp for sp in spans if sp[1].startswith("op.") and sp[5] in ids]
    out["trace.op_self_ms"] = mean(ms(selfs[sp[0]]) for sp in op_spans)
    shared = {o["template"] for o in traced} & {o["template"] for o in untraced}
    if shared:
        a = template_p50_gmean([o for o in untraced if o["template"] in shared])
        b = template_p50_gmean([o for o in traced if o["template"] in shared])
        out["trace.overhead_pct"] = (b / a - 1) * 100
    return {k: (float(v), UNITS[k]) for k, v in out.items()}
