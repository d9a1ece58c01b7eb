"""Turns a run's raw measurements into the benchmark's metrics.

End-to-end metrics are defined on every workload (the untraced run):
  setup_s         median of the run's set-ups
  ops_per_s       ops completed correctly / seconds spent in ops
  latency_p50_s   median op latency (nearest rank); a failed or wrong op
                  counts as +inf
  latency_tail_s  the highest percentile with >= 10 samples beyond it

Per-layer metrics come from the traced run: one span per call into a
graft layer, `<module>.<call>`, with Spark jobs attributed to the
innermost span open at their submission time. Per call: self_s (span
time minus child spans), jobs, driver_s (span time with no Spark task
running), shuffle_write_bytes, spill_bytes, task_skew (max over the
span's stages of max/median task time) and bytes_written (parquet bytes
Spark's tasks wrote). Times are medians over calls, counts and bytes
are means; a span the workload never calls reports 0.
"""
import math
import statistics

PCTS = [99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0]

SERVE_SPANS = ["query.find", "query.facets", "api.get", "index.search_trigram",
               "index.search_bm25", "ann.ivf_probe"]
DEDUP_SPANS = ["text.c4_clean", "text.quality_flags", "dedup.minhash_pairs",
               "dedup.simhash_pairs", "dedup.winnow_pairs", "dedup.jaccard_pairs",
               "dedup.edjoin_pairs", "dedup.components", "ann.neardup_pairs",
               "ann.semdedup", "ann.topn_matches"]
FINDERS = ["dedup.minhash_pairs", "dedup.simhash_pairs", "dedup.winnow_pairs",
           "dedup.jaccard_pairs", "dedup.edjoin_pairs", "ann.neardup_pairs",
           "ann.topn_matches"]
CRUD_SPANS = ["api.upsert", "api.bucketed_upsert", "api.insert", "api.delete_where",
              "index.bm25_append", "ann.ivf_append", "api.vacuum", "api.read_after_write"]
CRUD_WRITES = CRUD_SPANS[:6]
SETUP_SPANS = ["api.create_collection", "index.trigram_build", "index.bm25_build",
               "ann.ivf_attach"]

END_TO_END = [("setup_s", "s", "lower"), ("ops_per_s", "1/s", "higher"),
              ("latency_p50_s", "s", "lower"), ("latency_tail_s", "s", "lower")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for s in SERVE_SPANS:
        out += [(f"{s}.self_s", "s"), (f"{s}.jobs", "count"), (f"{s}.driver_s", "s")]
    out += [("query.find.rows_scanned_per_row", "ratio"),
            ("ann.ivf_probe.rows_scanned_per_row", "ratio")]
    for s in DEDUP_SPANS:
        out += [(f"{s}.self_s", "s"), (f"{s}.jobs", "count")]
    for s in FINDERS:
        out += [(f"{s}.shuffle_write_bytes", "B"), (f"{s}.spill_bytes", "B"),
                (f"{s}.task_skew", "ratio"), (f"{s}.shuffle_records_per_pair", "ratio")]
    for s in CRUD_SPANS:
        out += [(f"{s}.self_s", "s"), (f"{s}.jobs", "count")]
    out += [(f"{s}.bytes_written", "B") for s in CRUD_WRITES]
    for s in SETUP_SPANS:
        out += [(f"{s}.self_s", "s"), (f"{s}.jobs", "count")]
    return out + [("trace_overhead", "ratio")]


def rank(values, p):
    """Nearest-rank p-th percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def tail(values):
    """(percentile, value): the highest percentile in PCTS with at least
    ten samples beyond it (nearest rank), or the max when n < 20."""
    n = len(values)
    for p in PCTS:
        if round(n * (100.0 - p), 6) >= 1000:  # >= 10 samples beyond p
            return p, rank(values, p)
    return 100.0, max(values)


def _finite(x):
    return x if math.isfinite(x) else 1e9


def latencies(samples, failed_keys):
    """Per-op latency, +inf for an op that failed or returned a wrong result."""
    return [s["s"] if s["ok"] and s["key"] not in failed_keys else math.inf
            for s in samples]


def end_to_end(raw, failed_keys):
    samples = raw["samples"]
    lat = latencies(samples, failed_keys)
    ok = sum(math.isfinite(x) for x in lat)
    pct, t = tail(lat)
    m = {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "ops_per_s": (ok / sum(s["s"] for s in samples), "1/s"),
        "latency_p50_s": (_finite(rank(lat, 50)), "s"),
        "latency_tail_s": (_finite(t), "s"),
    }
    info = {"samples": len(samples), "tail_percentile": pct,
            "peak_rss_mb": raw["peak_rss_mb"],
            "failed_frac": (len(samples) - ok) / len(samples),
            "setup_reps_s": raw["setup_s"],
            "process_to_first_op_s": raw["process_to_first_op_s"]}
    spans = sorted({s["span"] for s in samples})
    info["latency_p50_s_by_span"] = {
        sp: statistics.median([x for x, s in zip(lat, samples) if s["span"] == sp])
        for sp in spans}
    if raw["workload"] == "serve":
        for kind in ("read", "write"):
            kl = [x for x, s in zip(lat, samples) if s["kind"] == kind]
            info[f"{kind}_latency_p50_s"] = rank(kl, 50)
            info[f"{kind}_latency_tail_s"], info[f"{kind}_tail_percentile"] = tail(kl)[::-1]
            info[f"{kind}_samples"] = len(kl)
        for k in ("write_amp", "space_amp", "bytes_written", "delta_bytes",
                  "on_disk_bytes", "fresh_snapshot_bytes"):
            info[k] = raw["extra"][k]
    if raw["workload"] == "dedup":
        n_ops = len(DEDUP_SPANS)
        passes = len(samples) // n_ops
        pass_s = [sum(s["s"] for s in samples[i * n_ops:(i + 1) * n_ops]) for i in range(passes)]
        info["passes"] = passes
        info["pass_s"] = pass_s
        if passes:
            info["rows_per_s"] = raw["extra"]["input_rows"] / statistics.median(pass_s)
        info["pairs"] = raw["extra"]["pairs"]
    return m, info


def _union_ms(intervals, lo, hi):
    covered, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def per_layer(raw):
    spans, jobs = raw["spans"], raw["jobs"]
    # Spark job -> innermost span open at its submission time
    span_of_job = {}
    for j in jobs:
        open_ = [s for s in spans if s["start_ms"] <= j["submit_ms"] <= s["end_ms"]]
        if open_:
            span_of_job[j["id"]] = max(open_, key=lambda s: (s["start_ms"], s["id"]))["id"]
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    per_span = {s["id"]: {"jobs": 0, "tasks": []} for s in spans}
    for jid, sid in span_of_job.items():
        per_span[sid]["jobs"] += 1
    for t in raw["tasks"]:
        sid = span_of_job.get(stage_job.get(t[0]))
        if sid is not None:
            per_span[sid]["tasks"].append(t)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["dur_s"])
    samples = raw["samples"]

    calls = {}
    for s in spans:
        w = per_span[s["id"]]
        ts = w["tasks"]
        stages = {}
        for t in ts:
            stages.setdefault(t[0], []).append(max(t[2] - t[1], 1))
        skews = [max(d) / statistics.median(d) for d in stages.values() if len(d) >= 2]
        covered = _union_ms([(t[1], t[2]) for t in ts], s["start_ms"], s["end_ms"]) / 1e3
        op = s["op"]
        own = 0 <= op < len(samples) and samples[op]["span"] == s["name"]
        rows = samples[op]["rows"] if own else None
        calls.setdefault(s["name"], []).append({
            "self_s": s["dur_s"] - sum(children.get(s["id"], [])),
            "jobs": w["jobs"],
            "driver_s": max(s["dur_s"] - covered, 0.0),
            "records_read": sum(t[3] for t in ts),
            "shuffle_write_bytes": sum(t[4] for t in ts),
            "shuffle_write_records": sum(t[5] for t in ts),
            "spill_bytes": sum(t[6] for t in ts),
            "bytes_written": sum(t[7] for t in ts),
            "task_skew": max(skews) if skews else 1.0,
            "rows": rows,
        })

    def med(name, field):
        c = calls.get(name)
        return statistics.median(x[field] for x in c) if c else 0.0

    def mean(name, field):
        c = calls.get(name)
        return statistics.fmean(x[field] for x in c) if c else 0.0

    def ratio(name, num):
        c = [x for x in calls.get(name, []) if x["rows"] is not None]
        rows = sum(x["rows"] for x in c)
        return sum(x[num] for x in c) / rows if rows else 0.0

    out = {}
    for name, unit in per_layer_names():
        span, _, field = name.rpartition(".")
        if name == "trace_overhead":
            a, b = raw["samples_untraced"], samples
            v = (sum(x["s"] for x in b) / len(b)) / (sum(x["s"] for x in a) / len(a)) - 1
        elif field in ("self_s", "driver_s", "task_skew"):
            v = med(span, field)
        elif field == "rows_scanned_per_row":
            v = ratio(span, "records_read")
        elif field == "shuffle_records_per_pair":
            v = ratio(span, "shuffle_write_records")
        else:
            v = mean(span, field)
        out[name] = {"value": v, "unit": unit}
    info = {
        "span_calls": {k: len(v) for k, v in sorted(calls.items())},
        "jobs_attributed": len(span_of_job), "jobs_total": len(jobs),
        # self times of the op spans add up to the traced ops' wall; set
        # against the untraced wall of the same ops, the gap is the
        # tracing overhead
        "op_span_self_sum_s": sum(s["dur_s"] - sum(children.get(s["id"], []))
                                  for s in spans if s["op"] >= 0),
        "traced_ops_s": sum(x["s"] for x in samples),
        "untraced_ops_s": sum(x["s"] for x in raw["samples_untraced"]),
        "untraced_ops": len(raw["samples_untraced"]),
        "traced_ops": len(samples),
    }
    return out, info
