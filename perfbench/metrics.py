"""Metric names, units and their computation from one harness run.

`END_TO_END` and `per_layer_spec(<BENCHMARK.json workloads>)` are the
metric sets of BENCHMARK.json: an untraced run reports every end-to-end
metric, a traced run every per-layer metric. A metric that does not apply to a workload (an engine phase in a
query workload, a query that the workload does not run) is 0.
"""
import statistics

QUERIES = {
    # 14 of the 29 Relational.queries: three timed passes of all 29 do not
    # fit a benchmark check's time budget (see perfbench/README.md). None
    # rounds a value that can sit on a half-cent tie; the queries that do
    # (q01, q03, q06, q14, q19, q27) fail the DuckDB check on some seeds
    # and run in sql_all.
    "sql_mix": [
        "q02_filter_project", "q04_order_priority_semi", "q05_top_orders",
        "q07b_topk_custom", "q09_distinct_partsupp", "q11_rollup", "q12_cube",
        "q13_anti_join", "q15_monthly_returns", "q17_scalar_functions",
        "q18_above_avg_orders", "q21_sessionize", "q23_from_json_typed",
        "q25_approx_distinct"],
    # all 29, one timed pass: not in BENCHMARK.json; it shows the half-cent
    # tie mismatches (perfbench/README.md, "Known defect")
    "sql_all": [
        "q01_pricing_summary", "q02_filter_project", "q03_revenue_by_nation",
        "q04_order_priority_semi", "q05_top_orders", "q06_forecast_revenue",
        "q07_latest_orders_window", "q07b_topk_custom", "q08_running_sum_window",
        "q09_distinct_partsupp", "q10_set_ops", "q11_rollup", "q12_cube",
        "q13_anti_join", "q14_supplier_revenue_having", "q15_monthly_returns",
        "q16_grouping_sets", "q17_scalar_functions", "q18_above_avg_orders",
        "q19_regional_revenue", "q20_event_windows", "q21_sessionize",
        "q22_json_extract", "q23_from_json_typed", "q24_date_arithmetic",
        "q25_approx_distinct", "q26_pivot", "q27_percentiles", "q28_range_frame"],
    "graph_fixpoint": [
        "graph_pagerank", "graph_ppr", "graph_components", "graph_label_prop",
        "graph_bfs_layers", "graph_hits", "graph_random_walks"],
    "dedup_lsh": [
        "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_embedding_cosine", "dedup_duplicate_spans", "ann_lsh_topk"],
}

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("mb_per_s", "MB/s", "higher"),
    ("op_p50_s", "s", "lower"),
    ("op_tail_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

_LAYERS = [
    ("sources.put_s", "s", "lower"),
    ("sources.get_s", "s", "lower"),
    ("sources.written_mb", "MB", "lower"),
    ("engine.maple_s", "s", "lower"),
    ("engine.juice_s", "s", "lower"),
    ("engine.inter_pairs", "count", "lower"),
    ("engine.out_lines", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("catalyst.plan_share", "ratio", "lower"),
    ("core.scan_rows", "count", "lower"),
    ("core.scan_mb", "MB", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.task_busy_s", "s", "lower"),
    ("sched.slot_util", "ratio", "higher"),
    ("sched.launch_wait_s", "s", "lower"),
    ("sched.skew_max_over_median", "ratio", "lower"),
    ("exchange.shuffle_write_mb", "MB", "lower"),
    ("exchange.shuffle_read_mb", "MB", "lower"),
    ("exchange.shuffle_records", "count", "lower"),
    ("exchange.records_per_inter_pair", "ratio", "lower"),
    ("exchange.spill_mem_mb", "MB", "lower"),
    ("exchange.spill_disk_mb", "MB", "lower"),
    ("exec.peak_task_mem_mb", "MB", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("cache.persisted_after_op", "count", "lower"),
    ("cache.storage_mb", "MB", "lower"),
    ("retained_heap_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.traced_wall_s", "s", "lower"),
    ("self.bench_s", "s", "lower"),
    ("self.sources_s", "s", "lower"),
    ("self.engine_s", "s", "lower"),
    ("self.operators_s", "s", "lower"),
    ("self.catalyst_s", "s", "lower"),
    ("self.spark_jobs_s", "s", "lower"),
]


def per_layer_spec(workloads):
    """Per-layer metrics for a benchmark that runs `workloads`."""
    ops = [q for w in workloads for q in QUERIES.get(w, [])]
    return _LAYERS + [m for q in ops for m in (
        (f"operators.{q}_s", "s", "lower"), (f"operators.{q}_jobs", "count", "lower"))]


def op_tail(latencies):
    """The highest percentile (nearest rank) with at least 10 samples beyond
    it, but not below the median (the upper one of an even count): with
    fewer than 21 samples the median is reported, with fewer than 10
    samples beyond. Returns (value, percentile, samples beyond)."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(n - 11, n // 2)
    return xs[k], round(100 * (k + 1) / n, 1), n - 1 - k


def _dur(op):
    return (op["end_us"] - op["start_us"]) / 1e6


def op_latencies(ops):
    """{operation: median latency over the passes}. A pass mixes operations
    of very different cost, so a median over raw samples can fall between
    two operations' clusters and jump with one slow sample; the median over
    per-operation medians stays put."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(_dur(o))
    return {k: statistics.median(v) for k, v in by_name.items()}


def end_to_end(res, input_mb):
    timed = [o for o in res["ops"] if not o["traced"] and o["pass"] > 0]
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    per_op = op_latencies(timed)
    lat = list(per_op.values())
    wall = statistics.median(walls)
    tail, pct, beyond = op_tail([_dur(o) for o in timed])
    values = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "mb_per_s": input_mb / wall,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "ops_per_s": len(timed) / sum(walls),
    }
    extra = {"op_tail_pct": pct, "op_tail_beyond": beyond, "op_kinds": len(lat),
             "op_samples": len(timed), "pass_walls_s": walls, "op_median_s": per_op,
             "retained_heap_mb": res["heap_after_measure_mb"] - res["heap_after_setup_mb"]}
    return values, extra


def _union_us(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _layer_of(name):
    if name == "pass":
        return "bench"
    if name.startswith("op:"):
        return name[3:].split(".")[0]
    if name.startswith("catalyst."):
        return "catalyst"
    return "spark_jobs"


def self_times(spans):
    """Per-layer self time in seconds: each span's duration minus the part
    covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        own = (hi - lo) - _union_us(kids.get(s["id"], []), lo, hi)
        layer = _layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + max(own, 0) / 1e6
    return out


SLACK_MS = 1  # Catalyst phase times are whole milliseconds


def attribute_queries(ops, queries):
    """{op span id: [query records]} for the traced operations `ops`. A
    query the harness did not tag with its operation goes to the operation
    whose interval, widened to whole milliseconds plus SLACK_MS, is nearest
    its first phase start; at a tie, to the later operation, since an
    operation's first query starts as soon as it does. A query more than
    SLACK_MS away from every operation is left out (key 0)."""
    spans = sorted((o["start_us"] // 1000, -(-o["end_us"] // 1000), o["span"]) for o in ops)
    out = {}
    for q in queries:
        op = q["op"]
        if not op and q["phases"] and spans:
            t = min(s for s, _ in q["phases"].values())
            dist, _, best = min((max(lo - t, t - hi, 0), -lo, sid) for lo, hi, sid in spans)
            op = best if dist <= SLACK_MS else 0
        out.setdefault(op, []).append(q)
    return out


def _first_shuffle(spark):
    """Shuffle records of the first stage of an operation that wrote any."""
    return next((r for r in (spark or {}).get("stage_shuffle_records", []) if r > 0), 0)


def per_layer(res, spans, spec, extra_e2e):
    """(per-layer values, spans with each query's Catalyst phases added
    under its operation)."""
    traced = [o for o in res["ops"] if o["traced"]]
    t_walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
    u_walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    npass = len(t_walls)
    sp = [o["spark"] or {} for o in traced]

    def total(key):
        return sum(s.get(key, 0) for s in sp)

    def dur_where(pred):
        return sum(_dur(o) for o in traced if pred(o))

    def res_where(pred):
        return sum(o["result"] for o in traced if pred(o))

    def out_b_where(pred):
        return sum((o["spark"] or {}).get("output_b", 0) for o in traced if pred(o))

    def is_(layer, prefix):
        return lambda o: o["layer"] == layer and o["name"].startswith(prefix)

    op_s = dur_where(lambda o: True)
    by_op = attribute_queries(traced, res["queries"])
    qs = [q for o in traced for q in by_op.get(o["span"], [])]
    cat = {ph: sum(q["phases"][ph][1] - q["phases"][ph][0] for q in qs if ph in q["phases"])
           for ph in ("analysis", "optimization", "planning")}
    next_id = max((s["id"] for s in spans), default=0)
    spans = list(spans)
    for o in traced:
        for q in by_op.get(o["span"], []):
            for ph, (t0, t1) in q["phases"].items():
                next_id += 1
                spans.append({"id": next_id, "parent": o["span"], "name": f"catalyst.{ph}",
                              "start_us": t0 * 1000, "end_us": t1 * 1000})
    skew = [st for s in sp for st in s.get("stage_skew", []) if st[2] > 0]
    skew_w = sum(st[0] for st in skew)
    inter = res_where(is_("engine", "maple"))
    grouped = sum(_first_shuffle(o["spark"]) for o in traced if is_("engine", "juice")(o))
    selfs = self_times(spans)
    v = {
        "sources.put_s": dur_where(is_("sources", "put")),
        "sources.get_s": dur_where(is_("sources", "get")),
        "sources.written_mb": out_b_where(is_("sources", "put")) / 1e6,
        "engine.maple_s": dur_where(is_("engine", "maple")),
        "engine.juice_s": dur_where(is_("engine", "juice")),
        "engine.inter_pairs": inter,
        "engine.out_lines": res_where(is_("engine", "juice")),
        "catalyst.analysis_ms": cat["analysis"],
        "catalyst.optimization_ms": cat["optimization"],
        "catalyst.planning_ms": cat["planning"],
        "core.scan_rows": sum(q["scan_rows"] for q in qs),
        "core.scan_mb": sum(q["scan_b"] for q in qs) / 1e6,
        "sched.jobs": total("jobs"),
        "sched.stages": total("stages"),
        "sched.tasks": total("tasks"),
        "sched.task_busy_s": total("task_busy_ms") / 1e3,
        "sched.launch_wait_s": total("sched_delay_ms") / 1e3,
        "exchange.shuffle_write_mb": total("shuffle_write_b") / 1e6,
        "exchange.shuffle_read_mb": total("shuffle_read_b") / 1e6,
        "exchange.shuffle_records": total("shuffle_records"),
        "exchange.spill_mem_mb": total("spill_mem_b") / 1e6,
        "exchange.spill_disk_mb": total("spill_disk_b") / 1e6,
        "exec.gc_s": total("gc_ms") / 1e3,
    }
    v.update({f"self.{k}_s": selfs.get(k, 0.0)
              for k in ("bench", "sources", "engine", "operators", "catalyst", "spark_jobs")})
    # everything above is a total over the traced passes: report it per pass
    v = {k: x / npass for k, x in v.items()}
    v.update({
        "catalyst.plan_share": sum(cat.values()) / 1e3 / op_s,
        "sched.slot_util": total("task_busy_ms") / 1e3 / (res["cpus"] * op_s),
        "sched.skew_max_over_median":
            sum(st[0] * st[1] / st[2] for st in skew) / skew_w if skew_w else 1.0,
        "exchange.records_per_inter_pair": grouped / inter if inter else 0.0,
        "exec.peak_task_mem_mb": max((s.get("peak_task_mem_b", 0) for s in sp), default=0) / 1e6,
        "cache.persisted_after_op": statistics.mean(o["persisted"] for o in traced),
        "cache.storage_mb": max(o["storage_b"] for o in traced) / 1e6,
        "retained_heap_mb": extra_e2e["retained_heap_mb"],
        "trace.traced_wall_s": statistics.median(t_walls),
        "trace.overhead_s": statistics.median(t_walls) - statistics.median(u_walls),
    })
    for name, _, _ in spec:
        if name.startswith("operators."):
            q, kind = name[len("operators."):].rsplit("_", 1)
            mine = [o for o in traced if o["name"] == q]
            if not mine:
                v[name] = 0.0
            elif kind == "s":
                v[name] = statistics.median(_dur(o) for o in mine)
            else:
                v[name] = statistics.mean((o["spark"] or {}).get("jobs", 0) for o in mine)
    v["trace.unattributed_queries"] = len(by_op.get(0, [])) / npass
    return v, spans


def emit(values, spec):
    """{name: {"value", "unit"}} for every metric of `spec`; a metric that
    was not computed is an error, not a silent gap."""
    missing = [n for n, _, _ in spec if n not in values]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")
    return {n: {"value": float(values[n]), "unit": u} for n, u, _ in spec}
