"""Metric definitions and the pure computations behind them.

`summarize(record, launch_epoch_s, trace)` turns the harness's run
record (see src/main/scala/graft/perfbench/Main.scala) into the result
the benchmark prints. Nothing here touches the filesystem or a clock.
"""
import statistics

WORKLOADS = ("stream_curated", "query_mix")

# (name, unit, better). Every workload reports every one of these.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("ops_per_s", "1/s", "higher"),
    ("latency_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("mem_peak_mb", "MB", "lower"),
]

QUERIES = [
    "q01_pricing_summary", "q85_curation_pipeline", "q44_near_dup_pairs",
    "q63_near_dup_keep_one", "q47_cosine_topk", "q57_ann_ivf",
    "q164_streaming_neardup_suppress", "q165_merge_neardup_indexes",
    "q187_label_propagation", "q199_sql_containment_filter",
    "q204_sql_commit_log", "q213_ingest_neardup_suppress",
    "q215_bucketed_commit_join",
]
PHASES = ["stale_glob", "stage_write", "count", "publish", "side", "marker"]


def _qid(q):
    return q.split("_", 1)[0]


PER_LAYER = (
    [("gen.rows_per_s", "1/s", "higher"), ("route.rows_per_s", "1/s", "higher")]
    + [(f"commit.{p}_s", "s", "lower") for p in PHASES + ["other"]]
    + [("curation.redact_s", "s", "lower"), ("dedup.seen_append_s", "s", "lower"),
       ("dedup.seen_filter_mb", "MB", "lower")]
    + [(f"stream.{m}_s", "s", "lower")
       for m in ["trigger", "add_batch", "wal_commit", "latest_offset", "query_planning"]]
    + [("stream.rows_per_commit", "count", "higher"), ("stream.source_passes", "ratio", "lower"),
       ("stream.backlog_rows", "count", "lower")]
    + [("spark.jobs_per_op", "count", "lower"), ("spark.stages_per_op", "count", "lower"),
       ("spark.tasks_per_op", "count", "lower"), ("spark.task_cpu_s", "s", "lower"),
       ("spark.gc_s", "s", "lower"), ("spark.cpu_util", "ratio", "higher"),
       ("spark.shuffle_write_mb", "MB", "lower"), ("spark.shuffle_read_mb", "MB", "lower"),
       ("spark.spill_mb", "MB", "lower"), ("spark.output_mb", "MB", "lower"),
       ("spark.speedup_p1", "ratio", "higher")]
    + [("store.files_per_commit", "count", "lower"), ("store.bytes_per_row", "B", "lower"),
       ("store.fs_read_ops_per_commit", "count", "lower"),
       ("store.fs_write_ops_per_commit", "count", "lower")]
    + [(f"{_qid(q)}.{m}", u, "lower") for q in QUERIES for m, u in
       [("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
        ("exchanges", "count"), ("shuffle_mb", "MB")]]
    + [("trace.overhead_pct", "%", "lower")]
)

# Per-workload figures the report prints by name next to the generic
# metrics above ("n/a" where a workload has no such figure); README.md
# maps each to its metric.
REPORT_NAMES = ["setup_s", "rows_per_s", "commit_p50_s", "commit_tail_s",
              "freshness_p50_s", "freshness_tail_s", "query_mix_s",
              "query_p50_s", "query_tail_s", "cpu_s", "mem_peak_mb", "failed_ratio"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile, from the median up, with at least `beyond`
    samples above it.

    Returns (value, percentile, n). When no percentile from the median up
    qualifies, the maximum is returned as percentile 100.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 0.0, 100.0, 0
    for i in range(n - 1, (n - 1) // 2 - 1, -1):
        if sum(1 for x in s if x > s[i]) >= beyond:
            return s[i], round(100.0 * i / (n - 1), 2), n
    return s[-1], 100.0, n


def freshness(source_start_s, first_row, rate, marker_s):
    """Seconds from the due time of a commit's oldest row until its
    commit marker existed. The rate source emits row v at
    source start + v / rate."""
    return marker_s - (source_start_s + first_row / rate)


def interval_rate(events):
    """Steady rate from (time, amount) events: the amount after the
    first event over the time from the first to the last. None with
    fewer than two events."""
    ev = sorted(events)
    if len(ev) < 2 or ev[-1][0] <= ev[0][0]:
        return None
    return sum(a for _, a in ev[1:]) / (ev[-1][0] - ev[0][0])


def failures(ops_ok, checks_ok):
    """(attempted, failed): operations and correctness checks count
    alike; a failed operation or check counts once."""
    outcomes = list(ops_ok) + list(checks_ok)
    return len(outcomes), sum(1 for ok in outcomes if not ok)


def self_times(spans):
    """Span id -> self seconds: its duration minus the part of it that
    its child spans cover (children clipped to the parent)."""
    by_id = {s["id"]: s for s in spans}
    covered = {i: [] for i in by_id}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            covered[p["id"]].append((max(s["start_s"], p["start_s"]),
                                     min(s["end_s"], p["end_s"])))
    out = {}
    for i, s in by_id.items():
        busy, end = 0.0, None
        for a, b in sorted(covered[i]):
            if end is not None and a < end:
                a = end
            if b > a:
                busy += b - a
                end = b
        out[i] = (s["end_s"] - s["start_s"]) - busy
    return out


def _delta(start, end, key):
    return end.get(key, 0.0) - start.get(key, 0.0)


def _phase_metrics(facts, commit_walls):
    """commit.* from the program's CommitPhases over the timed window."""
    a, b = facts.get("phases_start", {}), facts.get("phases_end", {})
    n = _delta(a, b, "commits")
    out = {f"commit.{p}_s": (_delta(a, b, p) / n if n else 0.0) for p in PHASES}
    phased = sum(_delta(a, b, p) for p in PHASES + ["dedup"])
    out["commit.other_s"] = ((sum(commit_walls) - phased) / n
                             if n and commit_walls else 0.0)
    return out


def _spark_metrics(counters, ops, wall_s, cores):
    c = counters
    per = (lambda k: c.get(k, 0.0) / ops) if ops else (lambda k: 0.0)
    return {
        "spark.jobs_per_op": per("jobs"), "spark.stages_per_op": per("stages"),
        "spark.tasks_per_op": per("tasks"), "spark.task_cpu_s": per("task_cpu_s"),
        "spark.gc_s": per("gc_s"),
        "spark.cpu_util": c.get("task_cpu_s", 0.0) / (wall_s * cores) if wall_s else 0.0,
        "spark.shuffle_write_mb": per("shuffle_write_mb"),
        "spark.shuffle_read_mb": per("shuffle_read_mb"),
        "spark.spill_mb": per("spill_mb"), "spark.output_mb": per("output_mb"),
    }


def _sum_counters(spans):
    out = {}
    for s in spans:
        for k, v in s["counters"].items():
            out[k] = out.get(k, 0.0) + v
    return out


def _probe_metrics(facts):
    p = facts.get("probe", {})
    rows = p.get("rows", 0)
    return {
        "gen.rows_per_s": rows / p["gen_s"] if p.get("gen_s") else 0.0,
        "route.rows_per_s": rows / p["route_s"] if p.get("route_s") else 0.0,
        "curation.redact_s": p.get("redact_s", 0.0),
        "dedup.seen_append_s": p.get("seen_append_s", 0.0),
        "dedup.seen_filter_mb": facts.get("seen_filter_mb", p.get("seen_filter_mb", 0.0)),
        "spark.speedup_p1": p["commit_p1_s"] / p["commit_pn_s"] if p.get("commit_pn_s") else 0.0,
    }


def _overhead_pct(facts):
    """The tracer's own time (snapshots and listener callbacks) as a
    share of the traced window."""
    return 100.0 * facts.get("tracer_overhead_s", 0.0) / facts["window_s"]


def _stream(rec):
    f = rec["facts"]
    w0, w1 = f["window_start_epoch_s"], f["window_end_epoch_s"]
    commits = [o for o in rec["ops"] if o["kind"] == "commit"]
    triggers = [o for o in rec["ops"] if o["kind"] == "trigger"
                and w0 <= o["start_epoch_s"] + o["trigger_s"] <= w1]
    inwin = [c for c in commits if w0 <= c["marker_epoch_s"] <= w1]
    fresh = [freshness(c["source_start_epoch_s"], c["first_row"], c["rate"], c["marker_epoch_s"])
             for c in inwin]
    groups = sorted({c["group"] for c in commits} | {0, 1})
    rows_rate, ops_rate = 0.0, 0.0
    for g in groups:
        mine = [c for c in inwin if c["group"] == g]
        r = interval_rate([(c["marker_epoch_s"], c["end_row"] - c["first_row"]) for c in mine])
        o = interval_rate([(c["marker_epoch_s"], 1) for c in mine])
        window = f["window_s"]
        rows_rate += r if r is not None else sum(c["end_row"] - c["first_row"] for c in mine) / window
        ops_rate += o if o is not None else len(mine) / window
    add_batch = [t["add_batch_s"] for t in triggers]
    e2e = {"rows_per_s": rows_rate, "ops_per_s": ops_rate, "latency": median(fresh)}
    named = {"rows_per_s": rows_rate, "commit": add_batch, "freshness": fresh}
    layer = _phase_metrics(f, add_batch)
    for m in ["trigger", "add_batch", "wal_commit", "latest_offset", "query_planning"]:
        layer[f"stream.{m}_s"] = mean([t[f"{m}_s"] for t in triggers])
    produced = sum(c["end_row"] - c["first_row"] for c in inwin)
    layer["stream.rows_per_commit"] = produced / len(inwin) if inwin else 0.0
    layer["stream.source_passes"] = (sum(t["input_rows"] for t in triggers) / produced
                                     if produced else 0.0)
    backlog = 0.0
    for g in groups:
        mine = [c for c in commits if c["group"] == g]
        if mine:
            offered = (w1 - mine[0]["source_start_epoch_s"]) * mine[0]["rate"]
            done = sum(c["end_row"] - c["first_row"] for c in mine if c["marker_epoch_s"] <= w1)
            backlog += offered - done
    layer["stream.backlog_rows"] = backlog
    a, b = f.get("traced_counters_start", {}), f.get("traced_counters_end", {})
    n_tr = len(inwin)
    c = {k: _delta(a, b, k) for k in b}
    layer.update(_spark_metrics(c, n_tr, w1 - w0, rec["cores"]))
    lay = f.get("layout", {})
    all_rows = sum(x["end_row"] - x["first_row"] for x in commits)
    layer.update({
        "store.files_per_commit": lay.get("data_files", 0) / max(1, lay.get("markers", 0)),
        "store.bytes_per_row": lay.get("data_bytes", 0) / all_rows if all_rows else 0.0,
        "store.fs_read_ops_per_commit": c.get("fs_read_ops", 0.0) / n_tr if n_tr else 0.0,
        "store.fs_write_ops_per_commit": c.get("fs_write_ops", 0.0) / n_tr if n_tr else 0.0,
    })
    layer["trace.overhead_pct"] = _overhead_pct(f)
    # a commit group that committed nothing in the window has failed
    ok = [any(c["group"] == g for c in inwin) for g in groups]
    return e2e, named, layer, ok


def _queries(rec, result_rows):
    f = rec["facts"]
    qs = [o for o in rec["ops"] if o["kind"] == "query"]
    walls = [o["wall_s"] for o in qs]
    # one pass: all three are the pass time scaled (README.md says why)
    e2e = {"rows_per_s": sum(result_rows.get(o["name"], 0) for o in qs) / sum(walls),
           "ops_per_s": len(qs) / sum(walls), "latency": mean(walls)}
    named = {"query_mix_s": sum(walls), "query": walls}
    layer = _phase_metrics(f, [])
    spans = rec["spans"]
    top = [s for s in spans if s["name"] in QUERIES]
    c = _sum_counters(top)
    layer.update(_spark_metrics(c, len(top), sum(s["end_s"] - s["start_s"] for s in top),
                                rec["cores"]))
    layer.update({"store.files_per_commit": 0.0, "store.bytes_per_row": 0.0,
                  "store.fs_read_ops_per_commit": 0.0, "store.fs_write_ops_per_commit": 0.0})
    for q in QUERIES:
        k = _qid(q)
        mine = [s for s in top if s["name"] == q]
        dur = lambda name: mean([s["end_s"] - s["start_s"] for s in spans if s["name"] == name])
        layer[f"{k}.build_s"] = dur(f"{q}.build")
        layer[f"{k}.plan_s"] = dur(f"{q}.plan")
        layer[f"{k}.exec_s"] = dur(f"{q}.exec")
        layer[f"{k}.jobs"] = mean([s["counters"].get("jobs", 0.0) for s in mine])
        layer[f"{k}.exchanges"] = mean([o["exchanges"] for o in qs if o["name"] == q])
        layer[f"{k}.shuffle_mb"] = mean([s["counters"].get("shuffle_write_mb", 0.0) for s in mine])
    layer["trace.overhead_pct"] = _overhead_pct(f)
    return e2e, named, layer, [o["ok"] for o in qs]


def summarize(rec, launch_epoch_s, trace, extra_checks=(), result_rows=None):
    """The printed result for one run, plus the human report's lines.
    `result_rows` maps each query to the rows of its result."""
    workload = rec["workload"]
    e2e, named, layer, ops_ok = (_stream(rec) if workload == "stream_curated"
                                 else _queries(rec, result_rows or {}))
    f = rec["facts"]
    checks = list(rec["checks"]) + list(extra_checks)
    attempted, failed = failures(ops_ok, [c["ok"] for c in checks])
    values = {
        "setup_s": f["window_start_epoch_s"] - launch_epoch_s,
        "rows_per_s": e2e["rows_per_s"], "ops_per_s": e2e["ops_per_s"],
        "latency_s": e2e["latency"],
        # like mem_peak_mb, from JVM start to the end of the window
        "cpu_s": f["cpu_end_s"], "mem_peak_mb": f["heap_peak_mb"],
    }
    for k, _, _ in PER_LAYER:
        layer.setdefault(k, 0.0)
    layer.update(_probe_metrics(f))
    table = PER_LAYER if trace else END_TO_END
    source = layer if trace else values
    metrics = {k: {"value": source[k], "unit": u} for k, u, _ in table}
    report = _named_report(values, named, attempted, failed)
    report += [f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})"
               for c in checks]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, report


def _named_report(values, named, attempted, failed):
    units = {"setup_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "mem_peak_mb": "MB",
             "failed_ratio": "ratio", "query_mix_s": "s"}
    shown = {"setup_s": values["setup_s"], "cpu_s": values["cpu_s"],
             "mem_peak_mb": values["mem_peak_mb"], "failed_ratio": failed / attempted,
             "rows_per_s": named.get("rows_per_s"), "query_mix_s": named.get("query_mix_s")}
    for kind in ["commit", "freshness", "query"]:
        if kind in named:
            t, pct, n = tail(named[kind])
            shown[f"{kind}_p50_s"] = median(named[kind])
            shown[f"{kind}_tail_s"] = t
            units[f"{kind}_tail_s"] = f"s (p{pct} of {n})"
    lines = []
    for name in REPORT_NAMES:
        v = shown.get(name)
        lines.append(f"{name:18s} " + ("n/a" if v is None else
                                        f"{v:.6g} {units.get(name, 's')}"))
    return lines
