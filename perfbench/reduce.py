"""Reduce one run's raw record to the result line and the detail record."""

import metrics as M

# End-to-end metrics every workload reports (BENCHMARK.json end_to_end).
# op_cpu_s is the median CPU time of the workload's primary op (every JVM
# thread but the JIT compilers): unlike its latency, it does not grow with
# the CPU time a shared host steals, so runs of the same code agree within
# its bound.
E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

# The op kind whose median CPU time is op_cpu_s, and that metric's name
# among the workload's own ones.
PRIMARY = {
    "aqp_mixed": ("query", "query_cpu_s"),
    "curate_stream": ("batch", "batch_cpu_s"),
    "ann_index": ("search", "search_cpu_s"),
}

# Each workload's own end-to-end metrics, printed by name in the detail
# record (gen_s, the input generation time, rides along).
NAMED = {
    "aqp_mixed": ("setup_s", "query_cpu_s", "query_p50_s", "query_tail_s", "queries_per_s",
                  "approx_err_pct", "ci_coverage", "failed_op_share"),
    "curate_stream": ("setup_s", "batch_cpu_s", "batch_p50_s", "batch_tail_s", "docs_per_s",
                      "dup_recall", "state_bytes_per_input_byte",
                      "failed_op_share"),
    "ann_index": ("setup_s", "search_cpu_s", "search_p50_s", "search_tail_s", "write_p50_s",
                  "probes_per_s", "recall_at_5", "failed_op_share"),
}

# Per-layer metrics every workload reports in a traced run
# (BENCHMARK.json per_layer); 0 where the workload never enters the layer.
LAYER = {
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.driver_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "catalyst.planning_ms": "ms", "jvm.gc_s": "s",
    "parser.parse_s": "s", "exec.plan_s": "s", "exec.build_s": "s",
    "exec.collect_s": "s", "exec.driver_share": "ratio",
    "exec.adaptive_jobs": "count", "sources.file_sample_input_ratio": "ratio",
    "operators.exact_dedup_s": "s", "operators.near_dedup_s": "s",
    "operators.decontaminate_s": "s", "operators.quality_s": "s",
    "operators.model_filter_s": "s", "operators.mix_split_s": "s",
    "operators.lsh_candidates_s": "s", "operators.verify_s": "s",
    "operators.candidate_pairs": "count", "operators.verified_pairs": "count",
    "operators.pair_yield": "ratio",
    "checkpoints.staged_mb": "MB", "checkpoints.leftover_blocks": "count",
    "streaming.batch_input_mb": "MB", "streaming.compact_s": "s",
    "streaming.reconcile_s": "s", "streaming.state_mb": "MB",
    "streaming.state_files": "count",
    "ann.lists_probed": "count", "ann.search_input_mb": "MB",
    "ann.write_rewritten_mb": "MB", "ann.index_mb": "MB", "ann.build_s": "s",
    "ann.delete_s": "s", "ann.upsert_s": "s", "ann.compact_s": "s",
}

COUNTERS = ("jobs", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb",
            "input_mb", "planning_ms")


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _val(v, unit, **extra):
    d = {"value": v, "unit": unit}
    d.update(extra)
    return d


def setup_seconds(raw):
    """Session start + median program set-up + warm-up until the first
    timed op; input generation is excluded (reported as gen_s)."""
    return raw["session_s"] + M.median(raw["setup_reps_s"]) + raw["warmup_s"]


def stream_reps(ops):
    """Split a curate_stream op list into reps: batch ops up to a reconcile."""
    reps, cur = [], []
    for o in ops:
        if o["kind"] == "batch":
            cur.append(o)
        elif o["kind"] == "reconcile":
            reps.append(cur)
            cur = []
    return reps


def end_to_end(raw):
    """(contract metrics, the workload's own named metrics)."""
    w = raw["workload"]
    ops = raw["ops"]
    prim_ops = [o for o in ops if o["kind"] == PRIMARY[w][0]]
    cpu = M.median([o["cpu_s"] for o in prim_ops])
    prim = [o["s"] for o in prim_ops]
    vals = raw["values"]
    setup = setup_seconds(raw)
    named = {"setup_s": _val(setup, "s"), "gen_s": _val(raw["gen_s"], "s"),
             PRIMARY[w][1]: _val(cpu, "s", n=len(prim))}

    def lat(prefix, xs):
        label, v, n, beyond = M.tail(xs)
        named[prefix + "_p50_s"] = _val(M.median(xs), "s", n=len(xs))
        named[prefix + "_tail_s"] = _val(v, "s", percentile=label, n=n, beyond=beyond)

    if w == "aqp_mixed":
        lat("query", prim)
        named["queries_per_s"] = _val(raw["items"] / raw["timed_wall_s"], "1/s")
        named["approx_err_pct"] = _val(100 * M.median(vals["approx_rel_err"]), "%",
                                       n=len(vals["approx_rel_err"]))
        cov = vals["ci_covered"]
        named["ci_coverage"] = _val(_mean(cov), "ratio", n=len(cov))
    elif w == "curate_stream":
        lat("batch", prim)
        named["docs_per_s"] = _val(vals["docs"] / M.median(
            [sum(o["s"] for o in r) for r in stream_reps(ops)] or [float("inf")]),
            "docs/s")
        named["dup_recall"] = _val(M.median(vals["dup_recall"]), "ratio")
        named["state_bytes_per_input_byte"] = _val(
            M.median(vals["state_bytes_per_input_byte"]), "ratio")
    else:
        lat("search", prim)
        writes = [o["s"] for o in ops if o["kind"] == "write"]
        named["write_p50_s"] = _val(M.median(writes), "s", n=len(writes))
        named["probes_per_s"] = _val(raw["items"] / raw["timed_wall_s"], "1/s")
        named["recall_at_5"] = _val(_mean(vals["recall_at_5"]), "ratio",
                                    n=len(vals["recall_at_5"]))
    failed = sum(not o["ok"] for o in raw["ops"])
    named["failed_op_share"] = _val(failed / max(1, len(raw["ops"])), "ratio")
    contract = {"setup_s": setup, "op_cpu_s": cpu}
    return {k: _val(v, E2E[k]) for k, v in contract.items()}, named


def per_layer(raw):
    """Per-layer metrics from the spans of the ops and the values the JVM
    measured directly, and the tracing overhead: the tracer's own time over
    the ops' wall, with the share of op wall no child span covers."""
    spans = raw["spans"]
    ops = {o["id"]: o for o in raw["ops"]}
    selfs = M.self_times(spans)
    roots = [s for s in spans if s["parent"] == -1 and s["op"] >= 0]
    out = {k: 0.0 for k in LAYER}

    def dur(s):
        return s["end"] - s["start"]

    def named(name, group=None):
        return [s for s in (group if group is not None else spans) if s["name"] == name]

    per_op = []
    for r in roots:
        tree = M.subtree(spans, r["id"])
        c = {k: sum(s[k] for s in tree) for k in COUNTERS}
        jobs = [iv for s in tree for iv in s["job_intervals"]]
        c["wall"] = dur(r)
        c["driver_s"] = dur(r) - M.union_length(jobs)
        c["gc_s"] = r["gc_s"]
        c["tree"] = tree
        c["op"] = ops[r["op"]]
        c["self"] = selfs[r["id"]]
        per_op.append(c)

    for k in COUNTERS:
        name = "catalyst.planning_ms" if k == "planning_ms" else "spark." + k
        out[name] = _mean(c[k] for c in per_op)
    out["spark.driver_s"] = _mean(c["driver_s"] for c in per_op)
    out["jvm.gc_s"] = _mean(c["gc_s"] for c in per_op)

    def mean_self(name):
        xs = [sum(selfs[s["id"]] for s in named(name, c["tree"]))
              for c in per_op if named(name, c["tree"])]
        return _mean(xs)

    def mean_dur(name):
        return _mean(dur(s) for s in named(name))

    for name in ("parser.parse", "exec.plan", "exec.build", "exec.collect"):
        out[name + "_s"] = mean_self(name)
    queries = [c for c in per_op if c["op"]["kind"] == "query"]
    if queries:
        out["exec.driver_share"] = (sum(c["driver_s"] for c in queries) /
                                    sum(c["wall"] for c in queries))
        out["exec.adaptive_jobs"] = _mean(
            c["jobs"] for c in queries if c["op"]["cls"].startswith("adaptive"))
        exact = _mean(c["input_mb"] for c in queries if c["op"]["cls"] == "exact")
        fsample = _mean(c["input_mb"] for c in queries if c["op"]["cls"] == "file")
        out["sources.file_sample_input_ratio"] = fsample / exact if exact else 0.0

    out["operators.lsh_candidates_s"] = mean_dur("operators.lsh_candidates")
    out["operators.verify_s"] = mean_dur("operators.verify")
    out["streaming.batch_input_mb"] = _mean(
        sum(s["store_scan_mb"] for s in M.subtree(spans, x["id"]))
        for x in named("streaming.curate"))
    out["streaming.compact_s"] = mean_dur("streaming.compact")
    out["streaming.reconcile_s"] = mean_dur("streaming.reconcile")
    out["ann.search_input_mb"] = _mean(
        sum(s["input_mb"] for s in M.subtree(spans, x["id"]))
        for x in named("ann.search"))
    for k in ("delete", "upsert", "compact"):
        out["ann.%s_s" % k] = mean_dur("ann." + k)

    for k, v in raw["layer"].items():
        if k in out:
            out[k] = v
    cands = out["operators.candidate_pairs"]
    out["operators.pair_yield"] = out["operators.verified_pairs"] / cands if cands else 0.0

    walls = sum(c["wall"] for c in per_op)
    by_class = {}
    for c in queries:
        d, w = by_class.get(c["op"]["cls"], (0.0, 0.0))
        by_class[c["op"]["cls"]] = (d + c["driver_s"], w + c["wall"])
    overhead = {
        "driver_share_by_class": {k: d / w for k, (d, w) in sorted(by_class.items()) if w},
        "overhead_share": _val(raw.get("tracer_s", 0.0) / walls if walls else 0.0,
                               "ratio"),
        "unattributed_share": _val(sum(c["self"] for c in per_op) / walls
                                   if walls else 0.0, "ratio"),
    }
    return {k: _val(out[k], LAYER[k]) for k in LAYER}, overhead


def reduce(raw, trace):
    """(result line, detail record) for one run."""
    ops = raw["ops"]
    failed = sum(not o["ok"] for o in ops)
    checks_ok = all(c["ok"] for c in raw["checks"])
    contract, named = end_to_end(raw)
    layers, overhead = per_layer(raw) if trace else (None, None)
    result = {"correct": failed == 0 and checks_ok, "attempted": len(ops),
              "failed": failed,
              "metrics": layers if trace else contract}
    detail = {"workload": raw["workload"], "seed": raw["seed"],
              "cores": raw["cores"], "conf": raw.get("conf", {}),
              "metrics": named,
              "checks": raw["checks"],
              "failed_ops": [{"cls": o["cls"], "error": o["error"]}
                             for o in ops if not o["ok"]][:10]}
    if trace:
        detail["tracing"] = dict(overhead, spans_file=raw.get("spans_file"))
    return result, detail
