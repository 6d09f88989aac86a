"""Metric arithmetic of the benchmark: percentiles, span self time, and the
end-to-end and per-layer metrics computed from one run's raw record."""
import statistics

# The end-to-end metrics of the result line (BENCHMARK.json's end_to_end), as
# (name, unit, better). The report carries every metric end_to_end computes.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("read_p50_ms", "ms", "lower"),
    ("read_tail_ms", "ms", "lower"),
    ("plan_p50_ms", "ms", "lower"),
    ("plan_tail_ms", "ms", "lower"),
    ("commit_p50_ms", "ms", "lower"),
    ("commit_tail_ms", "ms", "lower"),
    ("maintenance_cycle_s", "s", "lower"),
    ("rows_written_per_s", "1/s", "higher"),
    ("stored_bytes_per_row", "bytes", "lower"),
    ("retained_heap_mb", "MB", "lower"),
]

# Every per-layer metric, as (name, unit, better). A traced run prints all
# of them; a layer a workload does not use reads 0.
ACTIONS = ("rewrite_data_files", "rewrite_position_deletes", "rewrite_manifests",
           "expire_snapshots", "remove_orphan_files")
PER_LAYER = [
    ("format.meta.load_ms", "ms", "lower"),
    ("format.meta.json_bytes", "bytes", "lower"),
    ("format.meta.snapshots", "count", "lower"),
    ("format.plan.ms", "ms", "lower"),
    ("format.plan.calls_per_read", "count", "lower"),
    ("format.plan.manifests_total", "count", "lower"),
    ("format.plan.manifests_scanned", "count", "lower"),
    ("format.plan.manifest_keep_ratio", "ratio", "lower"),
    ("format.plan.files_total", "count", "lower"),
    ("format.plan.files_scanned", "count", "lower"),
    ("format.plan.file_keep_ratio", "ratio", "lower"),
    ("format.plan.delete_files_scoped", "count", "lower"),
    ("format.plan.to_df_ms", "ms", "lower"),
    ("connector.analyze_ms", "ms", "lower"),
    ("connector.optimize_ms", "ms", "lower"),
    ("connector.physical_plan_ms", "ms", "lower"),
    ("spark.codegen.classes", "count", "lower"),
    ("spark.codegen.compile_ms", "ms", "lower"),
    ("spark.exec.wall_ms", "ms", "lower"),
    ("spark.exec.jobs", "count", "lower"),
    ("spark.exec.stages", "count", "lower"),
    ("spark.exec.tasks", "count", "lower"),
    ("spark.exec.task_ms", "ms", "lower"),
    ("spark.exec.cpu_ms", "ms", "lower"),
    ("spark.exec.gc_ms", "ms", "lower"),
    ("spark.exec.deser_ms", "ms", "lower"),
    ("spark.exec.slot_utilization", "ratio", "higher"),
    ("spark.exec.task_max_over_median", "ratio", "lower"),
    ("spark.exec.input_rows", "count", "lower"),
    ("spark.exec.input_bytes", "bytes", "lower"),
    ("spark.exec.rows_examined_per_row_out", "ratio", "lower"),
    ("spark.exec.shuffle_write_bytes", "bytes", "lower"),
    ("spark.exec.shuffle_read_bytes", "bytes", "lower"),
    ("spark.exec.spill_bytes", "bytes", "lower"),
    ("spark.exec.peak_exec_mem_mb", "MB", "lower"),
    ("format.write.ms", "ms", "lower"),
    ("format.write.data_files", "count", "lower"),
    ("format.write.bytes", "bytes", "lower"),
    ("format.write.bytes_per_row", "bytes", "lower"),
    ("format.write.avg_file_bytes", "bytes", "higher"),
    ("format.commit.ms", "ms", "lower"),
    ("format.commit.count", "count", "lower"),
    ("format.commit.manifests_per_snapshot", "count", "lower"),
    ("format.commit.manifest_bytes_written", "bytes", "lower"),
    ("format.commit.referenced_meta_ratio", "ratio", "higher"),
    ("format.commit.added_delete_files", "count", "lower"),
    ("format.commit.removed_data_files", "count", "lower"),
    ("format.commit.rewrite_amplification", "ratio", "lower"),
    ("format.deletes.ms", "ms", "lower"),
    ("format.deletes.files_written", "count", "lower"),
] + [m for a in ACTIONS for m in (
    ("format.actions.%s.ms" % a, "ms", "lower"),
    ("format.actions.%s.files_in" % a, "count", "higher"),
    ("format.actions.%s.files_out" % a, "count", "lower"))] + [
    ("format.streaming.epoch_commit_ms", "ms", "lower"),
    ("format.streaming.replay_ms", "ms", "lower"),
    ("ops.dedup.pairs_ms", "ms", "lower"),
    ("ops.dedup.store_append_ms", "ms", "lower"),
    ("ops.dedup.pairs_found", "count", "higher"),
    ("ops.dedup.planted_recall", "ratio", "higher"),
    ("jvm.driver_gc_ms", "ms", "lower"),
    ("jvm.heap_after_gc_mb", "MB", "lower"),
    ("setup.spark_start_s", "s", "lower"),
    ("setup.generate_s", "s", "lower"),
    ("setup.table_build_s", "s", "lower"),
    ("trace.op_ms", "ms", "lower"),
    ("trace.unattributed_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

# Span name -> per-layer time metric fed by the span's self time.
SPAN_METRIC = {
    "format.meta": "format.meta.load_ms",
    "format.plan": "format.plan.ms",
    "format.plan.to_df": "format.plan.to_df_ms",
    "connector.analyze": "connector.analyze_ms",
    "connector.optimize": "connector.optimize_ms",
    "connector.physical_plan": "connector.physical_plan_ms",
    "spark.exec": "spark.exec.wall_ms",
    "format.write": "format.write.ms",
    "format.commit": "format.commit.ms",
    "format.deletes": "format.deletes.ms",
    "format.streaming.epoch_commit": "format.streaming.epoch_commit_ms",
    "format.streaming.replay": "format.streaming.replay_ms",
    "ops.dedup.pairs": "ops.dedup.pairs_ms",
    "ops.dedup.store_append": "ops.dedup.store_append_ms",
}
SPAN_METRIC.update({"format.actions." + a: "format.actions.%s.ms" % a for a in ACTIONS})


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, sample count) of the highest percentile that has at
    least ten samples beyond it: the 11th-largest sample, at percentile
    100 * (n - 10) / n. Below 21 samples no percentile above the median
    qualifies, so the median is reported, at percentile 50."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return median(xs), 50.0, n
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(op_start, op_end, spans):
    """Self time of each span of one operation, and of the operation itself
    (the unattributed remainder): a span's duration minus the part of it
    its child spans cover. Returns ({span name: total self ns},
    unattributed ns)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        inner = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                 for c in children.get(s["id"], ())]
        own = (s["t1"] - s["t0"]) - covered([i for i in inner if i[1] > i[0]])
        out[s["name"]] = out.get(s["name"], 0) + own
    top = [(max(s["t0"], op_start), min(s["t1"], op_end)) for s in children.get(0, ())]
    return out, (op_end - op_start) - covered([i for i in top if i[1] > i[0]])


def _ms(op):
    return (op["t1"] - op["t0"]) / 1e6


def end_to_end(raw):
    """Every end-to-end metric of an untraced run, {name: (value, unit)}, and
    the tail percentile and sample count of each latency class."""
    ops = raw["ops"]
    ok = [o for o in ops if o["ok"]]
    by = lambda cls: [_ms(o) for o in ok if o["cls"] == cls]
    reads, plans, commits, maint = by("read"), by("plan"), by("commit"), by("maintenance")
    window = max(o["t1"] for o in ops) / 1e9 if ops else 0.0
    setup = raw["setup"]
    reps = [g + b for g, b in zip(setup["generate_s"], setup["table_build_s"])]
    commit_s = sum(commits) / 1e3
    rows = sum(o["rowsWritten"] for o in ok if o["cls"] == "commit")
    r_tail, r_pct, r_n = tail(reads)
    p_tail, p_pct, p_n = tail(plans)
    c_tail, c_pct, c_n = tail(commits)
    metrics = {
        "setup_s": (setup["spark_start_s"] + median(reps), "s"),
        "ops_per_s": (len(ok) / window if window else 0.0, "1/s"),
        "read_p50_ms": (median(reads), "ms"),
        "read_tail_ms": (r_tail, "ms"),
        "plan_p50_ms": (median(plans), "ms"),
        "plan_tail_ms": (p_tail, "ms"),
        "commit_p50_ms": (median(commits), "ms"),
        "commit_tail_ms": (c_tail, "ms"),
        "maintenance_cycle_s": (median(maint) / 1e3, "s"),
        "rows_written_per_s": (rows / commit_s if commit_s else 0.0, "1/s"),
        "stored_bytes_per_row": (raw["stored_bytes"] / max(raw["live_rows"], 1), "bytes"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
        "error_rate": ((len(ops) - len(ok)) / len(ops) if ops else 0.0, "ratio"),
    }
    samples = {"read": [r_pct, r_n], "plan": [p_pct, p_n], "commit": [c_pct, c_n],
               "maintenance": [None, len(maint)]}
    return metrics, samples


def per_layer(raw):
    """Per-layer metrics of a traced run. Times are self time per traced
    operation; counts are per traced operation; ratios are ratios of sums."""
    ops = [o for o in raw["ops"] if o["ok"]]
    traced = [o for o in ops if o["traced"]]
    ids = {o["id"] for o in traced}
    n = max(len(traced), 1)
    spans_of, counts_of = {}, {}
    for s in raw["spans"]:
        if s["op"] in ids:
            spans_of.setdefault(s["op"], []).append(s)
    total = {}
    for c in raw["counters"]:
        if c["op"] in ids:
            total[c["name"]] = total.get(c["name"], 0.0) + c["value"]
            counts_of.setdefault(c["op"], {}).setdefault(c["name"], 0.0)
            counts_of[c["op"]][c["name"]] += c["value"]
    end = {c["name"]: c["value"] for c in raw["counters"] if c["op"] == -1}
    get = lambda k: total.get(k, 0.0)
    ratio = lambda a, b: a / b if b else 0.0

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    unattributed = 0
    for o in traced:
        own, rest = self_times(o["t0"], o["t1"], spans_of.get(o["id"], []))
        unattributed += rest
        for name, ns in own.items():
            if name in SPAN_METRIC:
                m[SPAN_METRIC[name]] += ns / 1e6 / n
    op_ms = sum(_ms(o) for o in traced)

    reads = [o for o in traced if o["cls"] == "read"]
    m["format.meta.json_bytes"] = ratio(get("format.meta.json_bytes"), get("format.meta.calls"))
    m["format.meta.snapshots"] = ratio(get("format.meta.snapshots"), get("format.meta.calls"))
    m["format.plan.calls_per_read"] = ratio(
        sum(counts_of.get(o["id"], {}).get("format.plan.scan_events", 0.0) for o in reads), len(reads))
    for k in ("manifests_total", "manifests_scanned", "files_total", "files_scanned"):
        m["format.plan." + k] = get("format.plan." + k) / n
    m["format.plan.manifest_keep_ratio"] = ratio(
        get("format.plan.manifests_scanned"), get("format.plan.manifests_total"))
    m["format.plan.file_keep_ratio"] = ratio(
        get("format.plan.files_scanned"), get("format.plan.files_total"))
    m["format.plan.delete_files_scoped"] = ratio(
        get("format.plan.delete_files_scoped"), get("format.plan.calls"))
    for k in ("classes", "compile_ms"):
        m["spark.codegen." + k] = get("spark.codegen." + k) / n
    for k in ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms", "deser_ms",
              "input_rows", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes"):
        m["spark.exec." + k] = get("spark.exec." + k) / n
    m["spark.exec.slot_utilization"] = ratio(get("spark.exec.task_ms"), op_ms * raw["cores"])
    skew = [c["spark.exec.task_max_over_median"] for c in counts_of.values()
            if "spark.exec.task_max_over_median" in c]
    m["spark.exec.task_max_over_median"] = median(skew)
    m["spark.exec.rows_examined_per_row_out"] = ratio(
        get("spark.exec.input_rows"), get("spark.exec.rows_out"))
    m["spark.exec.peak_exec_mem_mb"] = max(
        [c.get("spark.exec.peak_exec_mem_mb", 0.0) for c in counts_of.values()] or [0.0])
    m["format.write.data_files"] = get("format.write.data_files") / n
    m["format.write.bytes"] = get("format.write.bytes") / n
    m["format.write.bytes_per_row"] = ratio(get("format.write.bytes"), get("format.write.rows"))
    m["format.write.avg_file_bytes"] = ratio(get("format.write.bytes"), get("format.write.data_files"))
    m["format.commit.count"] = get("format.commit.snapshots") / n
    m["format.commit.manifests_per_snapshot"] = ratio(
        get("format.commit.total_manifests"), get("format.commit.snapshots"))
    m["format.commit.manifest_bytes_written"] = get("format.commit.manifest_bytes") / n
    m["format.commit.referenced_meta_ratio"] = ratio(
        end.get("format.commit.meta_files_referenced", 0.0), end.get("format.commit.meta_files_on_disk", 0.0))
    for k in ("added_delete_files", "removed_data_files"):
        m["format.commit." + k] = get("format.commit." + k) / n
    m["format.commit.rewrite_amplification"] = ratio(
        get("format.commit.added_records"), get("format.commit.rows_changed"))
    m["format.deletes.files_written"] = get("format.deletes.files_written") / n
    for a in ACTIONS:
        for k in ("files_in", "files_out"):
            name = "format.actions.%s.%s" % (a, k)
            m[name] = get(name) / n
    m["ops.dedup.pairs_found"] = get("ops.dedup.pairs_found") / n
    m["ops.dedup.planted_recall"] = ratio(get("ops.dedup.planted_found"), get("ops.dedup.planted"))
    m["jvm.driver_gc_ms"] = raw["driver_gc_ms"] / max(len(raw["ops"]), 1)
    m["jvm.heap_after_gc_mb"] = raw["retained_heap_mb"]
    setup = raw["setup"]
    m["setup.spark_start_s"] = setup["spark_start_s"]
    m["setup.generate_s"] = median(setup["generate_s"])
    m["setup.table_build_s"] = median(setup["table_build_s"])
    m["trace.op_ms"] = op_ms / n
    m["trace.unattributed_ms"] = unattributed / 1e6 / n
    m["trace.overhead_pct"] = overhead_pct(ops)[0]
    return m


def overhead_pct(ops):
    """Tracing overhead: per operation kind, the median traced duration over
    the median untraced one, weighted by how often each kind ran. Returns
    (overall %, {kind: %})."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], ([], []))[0 if o["traced"] else 1].append(_ms(o))
    per, num, den = {}, 0.0, 0.0
    for kind, (t, u) in kinds.items():
        if t and u:
            mt, mu = median(t), median(u)
            per[kind] = 100.0 * (mt - mu) / mu if mu else 0.0
            w = len(t) + len(u)
            num += w * (mt - mu)
            den += w * mu
    return (100.0 * num / den if den else 0.0), per


def by_kind(raw):
    """Per operation kind: sample count, median and tail latency, and, for
    traced kinds, the mean self time of each layer and the unattributed
    remainder."""
    out = {}
    spans_of = {}
    for s in raw["spans"]:
        spans_of.setdefault(s["op"], []).append(s)
    for o in raw["ops"]:
        k = out.setdefault(o["kind"], {"cls": o["cls"], "ms": [], "layers_ms": {},
                                       "unattributed_ms": 0.0, "traced": 0, "failed": 0})
        k["ms"].append(_ms(o))
        k["failed"] += 0 if o["ok"] else 1
        if o["traced"] and o["ok"]:
            k["traced"] += 1
            own, rest = self_times(o["t0"], o["t1"], spans_of.get(o["id"], []))
            k["unattributed_ms"] += rest / 1e6
            for name, ns in own.items():
                k["layers_ms"][name] = k["layers_ms"].get(name, 0.0) + ns / 1e6
    for k in out.values():
        t = max(k["traced"], 1)
        k["layers_ms"] = {n: v / t for n, v in sorted(k["layers_ms"].items())}
        k["unattributed_ms"] /= t
        value, pct, n = tail(k["ms"])
        k.update(n=n, p50_ms=median(k["ms"]), tail_ms=value, tail_pct=pct)
        del k["ms"]
    return out
