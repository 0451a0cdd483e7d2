"""Per-layer metrics of a traced run.

Every metric is computed per traced op and reported as the median over
the traced ops, unless its comment says otherwise. A layer the workload
does not exercise reads 0. perfbench/README.md maps each metric to the
end-to-end metric it should move."""
import gen
import oracle
import stats

# (name, unit), in report order; BENCHMARK.json lists the same names.
PER_LAYER = [
    ("sources.scan_rows", "rows"), ("sources.scan_bytes", "bytes"),
    ("sources.rows_read_per_row_out", "ratio"),
    ("sql.translate_ms", "ms"), ("sql.parse_analyze_ms", "ms"),
    ("plans.optimize_ms", "ms"), ("plans.physical_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_ms", "ms"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.gc_ms", "ms"), ("exec.idle_ms", "ms"), ("exec.core_util", "ratio"),
    ("models.construct_ms", "ms"),
    ("model.locations_clean_ms", "ms"), ("model.stacked_users_partners_ms", "ms"),
    ("model.user_base_ms", "ms"), ("model.checks_ms", "ms"),
    ("model.dag_parallelism", "ratio"), ("model.output_bytes", "bytes"),
    ("model.check_violations", "count"),
    ("incr.apply_ms", "ms"), ("incr.compact_ms", "ms"), ("incr.bytes_written", "bytes"),
    ("incr.rows_rewritten_per_row_in", "ratio"), ("incr.table_files", "count"),
    ("ext.stats_gate_ms", "ms"), ("ext.exact_dedup_ms", "ms"), ("ext.shingle_ms", "ms"),
    ("ext.minhash_ms", "ms"), ("ext.lsh_ms", "ms"), ("ext.verify_ms", "ms"),
    ("ext.cc_ms", "ms"), ("ext.candidate_pairs", "count"), ("ext.lsh_precision", "ratio"),
    ("ext.planted_recall", "ratio"),
    ("trace.overhead_pct", "%"),
]

PRIMARY = {"warehouse_build": "build", "bi_queries": "lookup",
           "cdc_upsert": "upsert", "curation_dedup": "pass"}


def _med(xs):
    xs = [x for x in xs if x is not None]
    return float(stats.median(xs)) if xs else 0.0


def _rows_returned(workload, p):
    if workload == "bi_queries":
        return len(p["rows"])
    if workload == "cdc_upsert":
        return len(p["point"]) + 1
    if workload == "curation_dedup":
        return len(p["rejected"]) + len(p["exact_groups"]) + len(p["components"]) + 1
    return 0


def per_layer(workload, result, ops, truth):
    """{metric: (value, unit)} for every name in PER_LAYER."""
    tr = result["trace"]
    spans = tr.get("spans", [])
    self_t = stats.self_times(spans)
    traced = [o for o in ops if o["traced"] and not o["error"]]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    cnt = tr.get("ops", {})
    cores = result["cores"]
    m = {}

    def per_op(f):
        return _med([f(o, o["id"] + 1) for o in traced])

    def c(oid, k):
        return cnt.get(str(oid), {}).get(k, 0)

    def span_self(oid, name):
        return sum(self_t[s["id"]] for s in by_op.get(oid, []) if s["name"] == name)

    def span_dur(oid, name):
        return sum(s["end_ms"] - s["start_ms"] for s in by_op.get(oid, []) if s["name"] == name)

    def has_span(name):
        return any(s["name"] == name for s in spans)

    m["sources.scan_rows"] = per_op(lambda o, i: c(i, "in_rows"))
    m["sources.scan_bytes"] = per_op(lambda o, i: c(i, "in_bytes"))
    out_rows = sum(c(o["id"] + 1, "out_rows") + _rows_returned(workload, o["payload"])
                   for o in traced)
    in_rows = sum(c(o["id"] + 1, "in_rows") for o in traced)
    m["sources.rows_read_per_row_out"] = in_rows / out_rows if out_rows else 0.0
    for name in ("sql.translate", "sql.parse_analyze"):
        m[name + "_ms"] = per_op(lambda o, i, n=name: span_self(i, n))

    # planning phases: forced in their own spans by bi_queries, else the
    # QueryExecution phase timings of the queries each op started
    phases = tr.get("query_phases", [])

    def phase(o, col):
        return sum(p[col] for p in phases if o["start_ms"] <= p[0] <= o["end_ms"])

    for name, col in (("plans.optimize", 1), ("plans.physical", 2)):
        if has_span(name):
            m[name + "_ms"] = per_op(lambda o, i, n=name: span_self(i, n))
        else:
            m[name + "_ms"] = per_op(lambda o, i, k=col: phase(o, k))

    for k in ("jobs", "stages", "tasks", "task_cpu_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "gc_ms"):
        m["exec." + k] = per_op(lambda o, i, k=k: c(i, k))

    def busy(o, i):
        iv = [(max(a, o["start_ms"]), min(b, o["end_ms"]))
              for a, b in cnt.get(str(i), {}).get("task_intervals_ms", [])]
        return stats.union_length(iv), sum(max(0.0, b - a) for a, b in iv)

    m["exec.idle_ms"] = per_op(lambda o, i: (o["end_ms"] - o["start_ms"]) - busy(o, i)[0])
    m["exec.core_util"] = per_op(
        lambda o, i: busy(o, i)[1] / ((o["end_ms"] - o["start_ms"]) * cores))

    m["models.construct_ms"] = per_op(lambda o, i: span_dur(i, "models.construct"))
    model_spans = ("locations_clean", "stacked_users_partners", "user_base", "checks")
    for name in model_spans:
        m[f"model.{name}_ms"] = per_op(lambda o, i, n=name: span_dur(i, f"model.{n}"))
    m["model.dag_parallelism"] = per_op(
        lambda o, i: sum(span_dur(i, f"model.{n}") for n in model_spans)
        / (o["end_ms"] - o["start_ms"])) if workload == "warehouse_build" else 0.0
    good = [o for o in ops if not o["error"]]
    if workload == "warehouse_build":
        m["model.output_bytes"] = _med([o["payload"]["output_bytes"] for o in good])
        m["model.check_violations"] = _med(
            [sum(o["payload"]["violations"].values()) for o in good])
    else:
        m["model.output_bytes"] = m["model.check_violations"] = 0.0

    m["incr.apply_ms"] = per_op(lambda o, i: span_self(i, "incr.apply"))
    compacts = [span_self(o["id"] + 1, "incr.compact") for o in traced
                if o["payload"].get("compacted")]
    m["incr.compact_ms"] = _med(compacts)   # median over the ops that compacted
    if workload == "cdc_upsert":
        batch_rows = gen.SIZES["cdc_upsert"]["batch_rows"]
        m["incr.bytes_written"] = _med([o["payload"]["bytes_written"] for o in good])
        m["incr.rows_rewritten_per_row_in"] = per_op(
            lambda o, i: sum(s["counters"].get("out_rows", 0) for s in by_op.get(i, [])
                             if s["name"] == "incr.apply") / batch_rows)
        m["incr.table_files"] = _med([o["payload"]["table_files"] for o in good])
    else:
        m["incr.bytes_written"] = m["incr.rows_rewritten_per_row_in"] = 0.0
        m["incr.table_files"] = 0.0

    for name in ("stats_gate", "exact_dedup", "shingle", "minhash", "lsh", "verify", "cc"):
        m[f"ext.{name}_ms"] = per_op(lambda o, i, n=name: span_self(i, f"ext.{n}"))
    if workload == "curation_dedup":
        m["ext.candidate_pairs"] = per_op(lambda o, i: o["payload"]["candidate_pairs"])
        m["ext.lsh_precision"] = per_op(
            lambda o, i: o["payload"]["verified_pairs"] / max(1, o["payload"]["candidate_pairs"]))
        m["ext.planted_recall"] = _med(
            [oracle.planted_recall(truth, o["payload"]["components"]) for o in good])
    else:
        m["ext.candidate_pairs"] = m["ext.lsh_precision"] = m["ext.planted_recall"] = 0.0

    lat = lambda on: [o["end_ms"] - o["start_ms"] for o in ops
                      if o["traced"] == on and o["kind"] == PRIMARY[workload] and not o["error"]]
    t_on, t_off = lat(True), lat(False)
    m["trace.overhead_pct"] = ((stats.median(t_on) / stats.median(t_off) - 1) * 100
                               if t_on and t_off else 0.0)
    units = dict(PER_LAYER)
    return {k: (float(m[k]), units[k]) for k, _ in PER_LAYER}
