"""Turns one run's raw record into the benchmark's metrics: the end-to-end
metrics (every workload reports each one), the named metrics of the
workload, and the per-layer metrics of a traced run. Which layer metric
should move which end-to-end metric on which workload is in LAYERS.md.
"""

from metrics import (backlog_grows, batch_of, commit_ms, data_batches, digest_problems,
                     freshness_s, geomean, job_spans, layer_self_times, median,
                     per_kind_medians, tail)

# Every run reports every end-to-end metric. The latency percentiles are
# over units of work: a pass that lands and reads back all five formats
# (sink_bulk), a chunk from scheduled send to commit (sink_trickle), a pass
# over the fifteen queries (query_mix). The geomean is over operation kinds:
# each format's landing and read-back, the chunk, each query.
END_TO_END = [
    ("setup_s", "s"),
    ("heap_after_gc_mb", "MB"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("latency_geomean_s", "s"),
    ("throughput_per_s", "1/s"),
]

FORMATS = ["json", "json_gzip", "avro_deflate", "parquet", "bytes"]
QUERIES = ["q01_filter_project", "q04_agg_basic", "q07_join_inner_equi", "q12_rollup_cube",
           "q15_window_frame", "q34_asof_join", "q129_salted_skew_join", "q134_revenue_share",
           "q27_ngram_jaccard", "q101_connected_components", "q108_incremental_cc",
           "q119_cluster_store_update", "q147_prefix_filter_join",
           "q168_containment_sketch_audit", "q187_kcore_decomposition"]
SELF_LAYERS = ["uncovered", "streaming", "sink", "sink_jobs", "sources", "sources_jobs",
               "operators", "operators_jobs", "llmops", "llmops_jobs"]

PER_LAYER = (
    [("streaming.batches", "count"), ("streaming.rows_per_batch_p50", "count"),
     ("streaming.trigger_ms_p50", "ms"), ("streaming.trigger_ms_p95", "ms"),
     ("streaming.add_batch_ms_p50", "ms"), ("streaming.wal_commit_ms_p50", "ms"),
     ("streaming.commit_offsets_ms_p50", "ms"), ("streaming.plan_ms_p50", "ms"),
     ("streaming.backlog_rows_end", "count"),
     ("sink.jobs_per_batch", "count"), ("sink.stages_per_batch", "count"),
     ("sink.tasks_per_batch", "count"), ("sink.job_ms_per_batch_p50", "ms"),
     ("sink.driver_ms_per_batch_p50", "ms"), ("sink.fs_write_ops", "count"),
     ("sink.fs_read_ops", "count")]
    + [("sink.%s.%s" % (f, m), u) for f in FORMATS for m, u in (("s", "s"), ("bytes_per_record", "B"))]
    + [("sink.bytes_per_record", "B"), ("sink.cpu_us_per_record", "us"),
       ("sink.shuffle_write_bytes_per_record", "B"), ("sink.spill_bytes", "B"),
       ("partition.dirs_per_batch", "count"), ("sink.files_per_batch", "count"),
       ("sources.readback_s", "s"), ("sources.files_read", "count"),
       ("tables.scan_bytes", "B"), ("tables.scan_records", "count"),
       ("operators.build_s", "s"), ("operators.plan_s", "s"),
       ("operators.analysis_ms", "ms"), ("operators.optimization_ms", "ms"),
       ("operators.physical_ms", "ms"), ("operators.execute_s", "s"),
       ("operators.jobs", "count"), ("operators.tasks", "count"),
       ("operators.shuffle_bytes", "B"), ("operators.cpu_util", "ratio"),
       ("llmops.build_s", "s"), ("llmops.materialize_jobs", "count"),
       ("llmops.plan_s", "s"), ("llmops.execute_s", "s"), ("llmops.jobs", "count"),
       ("llmops.tasks", "count"), ("llmops.shuffle_bytes", "B"),
       ("llmops.spill_bytes", "B"), ("llmops.cpu_util", "ratio")]
    + [("query.%s.s" % q, "s") for q in QUERIES]
    + [("jvm.gc_s", "s"), ("loadgen.late_ms_p95", "ms"), ("env.nproc", "count"),
       ("env.load1_start", "load"), ("env.load1_end", "load"),
       ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
    + [("self.%s_s" % l, "s") for l in SELF_LAYERS]
)


class Report:
    def __init__(self):
        self.e2e = {}
        self.named = {}
        self.layer = {name: 0.0 for name, _ in PER_LAYER}
        self.notes = {}
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def op_results(self, ops):
        self.attempted += len(ops)
        for o in ops:
            if not o["ok"]:
                self.failed += 1
                self.problems.append("%s: %s" % (o["kind"], o["detail"]))

    def check(self, ok, detail):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(detail)


def build(raw, expected_digests, nproc, load_start, load_end, untraced_p50=None):
    """Metrics of one run. A traced run's `trace.overhead_s` is its
    `latency_p50_s` minus `untraced_p50`, the median of the untraced runs
    of the same workload, when there are any."""
    r = Report()
    r.e2e["setup_s"] = raw["setup_s"]
    r.e2e["heap_after_gc_mb"] = raw["heap_after_gc_mb"]
    r.layer.update({"jvm.gc_s": raw["gc_s"], "env.nproc": nproc,
                    "env.load1_start": load_start, "env.load1_end": load_end})
    r.named.update({"setup_s": raw["setup_s"], "heap_after_gc_mb": raw["heap_after_gc_mb"]})
    r.notes["session_start_s"] = raw.get("session_s")
    {"sink_bulk": _bulk, "sink_trickle": _trickle, "query_mix": _query}[raw["workload"]](raw, r, expected_digests)
    if raw.get("trace"):
        _self_times(raw, r)
        r.notes["untraced_latency_p50_s"] = untraced_p50
        if untraced_p50:
            r.layer["trace.overhead_s"] = r.e2e["latency_p50_s"] - untraced_p50
    r.named["error_rate"] = r.failed / max(1, r.attempted)
    return r


def _latency(r, units, kinds):
    """Percentiles over units of work, geomean over per-kind medians."""
    r.e2e["latency_p50_s"] = median(units)
    r.e2e["latency_tail_s"], p = tail(units)
    r.notes["latency_tail_percentile"] = p
    r.notes["latency_samples"] = len(units)
    r.e2e["latency_geomean_s"] = geomean(list(kinds.values()))


def _passes(ops, size):
    """Wall seconds of each complete pass of `size` operations."""
    return [_sum(o["s"] for o in ops[i:i + size]) for i in range(0, len(ops) - size + 1, size)]


def _sum(xs):
    return float(sum(xs))


def _counts(raw, keys):
    total = {}
    for k in keys:
        for name, v in raw["trace"]["counts"].get(str(k), {}).items():
            total[name] = total.get(name, 0) + v
    return total


def _union_ms(intervals):
    total, hi = 0.0, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total


def _jobs_of(raw, key):
    return [(j["start_ms"], j["end_ms"]) for j in raw["trace"]["jobs"] if j["key"] == key and j["end_ms"] >= 0]


# ------------------------------------------------------------------ sink_bulk

def _bulk(raw, r, _):
    d = raw["workload_data"]
    ops = raw["ops"]
    r.op_results(ops)
    lands = [o for o in ops if o["kind"].startswith("land:")]
    reads = [o for o in ops if o["kind"].startswith("read:")]
    passes = _passes(ops, 2 * len(FORMATS))
    _latency(r, passes, per_kind_medians(ops))
    r.e2e["throughput_per_s"] = _sum(o["records"] for o in lands) / _sum(o["s"] for o in lands)
    r.named["sink_records_per_s"] = r.e2e["throughput_per_s"]
    r.named["sink_bytes_per_record"] = _sum(o["bytes"] for o in lands) / _sum(o["records"] for o in lands)
    r.named["readback_records_per_s"] = _sum(o["records"] for o in reads) / _sum(o["s"] for o in reads)
    r.notes["passes"] = len(passes)
    if not raw.get("trace"):
        return
    t = raw["trace"]
    for f in FORMATS:
        fl = [o for o in lands if o["kind"] == "land:" + f]
        r.layer["sink.%s.s" % f] = median([o["s"] for o in fl])
        r.layer["sink.%s.bytes_per_record" % f] = _sum(o["bytes"] for o in fl) / _sum(o["records"] for o in fl)
    spans = [s for s in t["spans"] if s["layer"] == "sink"]
    per = []
    for s in spans:
        job_ms = _union_ms(_jobs_of(raw, str(s["id"])))
        per.append((_counts(raw, [s["id"]]), job_ms, s["end_ms"] - s["start_ms"] - job_ms, s["fs"]))
    _batch_layer(r, per)
    records = _sum(o["records"] for o in lands)
    cnt = _counts(raw, [s["id"] for s in spans])
    n_passes = float(len(passes))
    r.layer["sink.bytes_per_record"] = r.named["sink_bytes_per_record"]
    r.layer["sink.cpu_us_per_record"] = cnt.get("cpu_ns", 0) / 1000.0 / records
    r.layer["sink.shuffle_write_bytes_per_record"] = cnt.get("shuffle_write_bytes", 0) / records
    r.layer["sink.spill_bytes"] = cnt.get("spill_bytes", 0) / n_passes
    r.layer["sink.files_per_batch"] = d["files_per_landing"]
    r.layer["partition.dirs_per_batch"] = d["dirs_per_landing"]
    r.layer["sources.readback_s"] = _sum(o["s"] for o in reads) / n_passes
    r.layer["sources.files_read"] = d["files_per_landing"] * len(FORMATS)


def _batch_layer(r, per):
    """Per-batch fixed cost of the sink: one entry per batch of
    (listener counts, ms covered by Spark jobs, ms outside them, fs ops)."""
    if not per:
        return
    n = float(len(per))
    r.layer["sink.jobs_per_batch"] = sum(c.get("jobs", 0) for c, _, _, _ in per) / n
    r.layer["sink.stages_per_batch"] = sum(c.get("stages", 0) for c, _, _, _ in per) / n
    r.layer["sink.tasks_per_batch"] = sum(c.get("tasks", 0) for c, _, _, _ in per) / n
    r.layer["sink.job_ms_per_batch_p50"] = median([j for _, j, _, _ in per])
    r.layer["sink.driver_ms_per_batch_p50"] = median([x for _, _, x, _ in per])
    if all(fs for _, _, _, fs in per):
        r.layer["sink.fs_write_ops"] = sum(fs.get("write_ops", 0) for _, _, _, fs in per) / n
        r.layer["sink.fs_read_ops"] = sum(fs.get("read_ops", 0) for _, _, _, fs in per) / n


# --------------------------------------------------------------- sink_trickle

def _trickle(raw, r, _):
    d = raw["workload_data"]
    check = d["check"]
    r.check(check["ok"], "landing check: " + check["detail"])
    chunks = d["chunks"]
    batches = data_batches(d["progress"])
    fresh = freshness_s(chunks, d["progress"])
    r.check(all(f is not None for f in fresh), "a measured chunk was never committed")
    fresh = [f for f in fresh if f is not None]
    samples = [b for b in d["backlog"] if not b.get("end")]
    grows = backlog_grows(samples, d["chunk_rows"])
    r.check(not grows, "invalid open-loop run: the backlog grew over the window")
    r.notes["backlog_grows"] = grows
    first, last = chunks[0]["offset"], chunks[-1]["offset"]
    window = [b for b in batches if b["end_offset"] >= first
              and b["end_offset"] - b["rows"] // d["chunk_rows"] < last]
    r.attempted += len(window)
    _latency(r, fresh, {"freshness": median(fresh)})
    span_s = (commit_ms(batch_of(last, batches)) - chunks[0]["scheduled_ms"]) / 1000.0
    r.e2e["throughput_per_s"] = sum(c["rows"] for c in chunks) / span_s
    r.named["freshness_p50_s"] = r.e2e["latency_p50_s"]
    r.named["freshness_p95_s"] = r.e2e["latency_tail_s"]
    r.named["sink_bytes_per_record"] = d["landed_bytes"] / float(d["sent_rows"])
    read = d["readback"]
    r.op_results([read])
    r.named["readback_records_per_s"] = read["records"] / read["s"]
    r.notes["chunks"] = len(chunks)
    r.notes["batches"] = len(window)
    if not raw.get("trace"):
        return
    t = raw["trace"]
    late = [c["sent_ms"] - c["scheduled_ms"] for c in chunks]
    r.layer["loadgen.late_ms_p95"] = tail(late, cap=95)[0]
    dur = lambda b, k: b["duration_ms"].get(k, 0)
    r.layer["streaming.batches"] = len(window)
    r.layer["streaming.rows_per_batch_p50"] = median([b["rows"] for b in window])
    trig = [dur(b, "triggerExecution") for b in window]
    r.layer["streaming.trigger_ms_p50"] = median(trig)
    r.layer["streaming.trigger_ms_p95"], r.notes["trigger_tail_percentile"] = tail(trig, cap=95)
    r.layer["streaming.add_batch_ms_p50"] = median([dur(b, "addBatch") for b in window])
    r.layer["streaming.wal_commit_ms_p50"] = median([dur(b, "walCommit") for b in window])
    r.layer["streaming.commit_offsets_ms_p50"] = median([dur(b, "commitOffsets") for b in window])
    r.layer["streaming.plan_ms_p50"] = median(
        [dur(b, "queryPlanning") + dur(b, "getBatch") + dur(b, "latestOffset") for b in window])
    ends = [b for b in d["backlog"] if b.get("end")]
    r.layer["streaming.backlog_rows_end"] = ends[-1]["rows"] if ends else 0
    per = []
    for b in window:
        key = "batch:%d" % b["batch"]
        job_ms = _union_ms(_jobs_of(raw, key))
        per.append((t["counts"].get(key, {}), job_ms, dur(b, "addBatch") - job_ms, {}))
    _batch_layer(r, per)
    r.layer["sink.fs_write_ops"] = t["fs"]["write_ops"] / float(max(1, len(window)))
    r.layer["sink.fs_read_ops"] = t["fs"]["read_ops"] / float(max(1, len(window)))
    # files and partition directories each batch committed, from the landed
    # names: a file's start offset names its chunk, the chunk its batch
    chunk_offset = {c["chunk"]: c["offset"] for c in chunks}
    ids = {b["batch"] for b in window}
    files, dirs = {}, {}
    for path in d["files"]:
        parts = path.split("/")
        start = int(parts[-1].split("+")[2].split(".")[0])
        off = chunk_offset.get(start // d["per_partition"])
        b = batch_of(off, batches) if off is not None else None
        if b is not None and b["batch"] in ids:
            files[b["batch"]] = files.get(b["batch"], 0) + 1
            dirs.setdefault(b["batch"], set()).add("/".join(parts[:-1]))
    r.layer["sink.files_per_batch"] = median(list(files.values()))
    r.layer["partition.dirs_per_batch"] = median([len(v) for v in dirs.values()])
    rows = float(sum(b["rows"] for b in window))
    cnt = {}
    for c, _, _, _ in per:
        for k, v in c.items():
            cnt[k] = cnt.get(k, 0) + v
    r.layer["sink.bytes_per_record"] = r.named["sink_bytes_per_record"]
    r.layer["sink.cpu_us_per_record"] = cnt.get("cpu_ns", 0) / 1000.0 / rows
    r.layer["sink.shuffle_write_bytes_per_record"] = cnt.get("shuffle_write_bytes", 0) / rows
    r.layer["sink.spill_bytes"] = cnt.get("spill_bytes", 0)
    r.layer["sources.readback_s"] = read["s"]
    r.layer["sources.files_read"] = len(d["files"])


# ------------------------------------------------------------------ query_mix

def _query(raw, r, expected):
    d = raw["workload_data"]
    problems = digest_problems(d["warm"], expected)
    r.attempted += len(expected) - len(problems)
    for p in problems:
        r.check(False, "output check " + p)
    ops = raw["ops"]
    r.op_results(ops)
    n = len(QUERIES)
    passes = _passes(ops, n)
    med = per_kind_medians(ops)
    _latency(r, passes, med)
    r.e2e["throughput_per_s"] = len(ops) / _sum(o["s"] for o in ops)
    r.named["query_total_s"] = r.e2e["latency_p50_s"]
    r.named["query_geomean_s"] = r.e2e["latency_geomean_s"]
    r.notes["passes"] = len(passes)
    if not raw.get("trace"):
        return
    t = raw["trace"]
    for q in QUERIES:
        r.layer["query.%s.s" % q] = med.get(q, 0.0)
    passes_t = len(passes)
    spans = t["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    scan_b = scan_r = 0
    for layer in ("operators", "llmops"):
        roots = [s for s in spans if s["layer"] == layer and s["name"].startswith("query[")]
        kids = [k for s in roots for k in by_parent.get(s["id"], [])]
        phase = lambda nm: _sum(k["end_ms"] - k["start_ms"] for k in kids if k["name"] == nm) / 1000.0 / passes_t
        r.layer[layer + ".build_s"] = phase("build")
        r.layer[layer + ".plan_s"] = phase("plan")
        r.layer[layer + ".execute_s"] = phase("execute")
        c = _counts(raw, [s["id"] for s in roots + kids])
        r.layer[layer + ".jobs"] = c.get("jobs", 0) / float(passes_t)
        r.layer[layer + ".tasks"] = c.get("tasks", 0) / float(passes_t)
        r.layer[layer + ".shuffle_bytes"] = c.get("shuffle_write_bytes", 0) / float(passes_t)
        wall_ns = _sum(s["end_ms"] - s["start_ms"] for s in roots) * 1e6
        r.layer[layer + ".cpu_util"] = c.get("cpu_ns", 0) / (wall_ns * raw["cores"]) if wall_ns else 0.0
        scan_b += c.get("input_bytes", 0)
        scan_r += c.get("input_records", 0)
        if layer == "llmops":
            builds = [k["id"] for k in kids if k["name"] == "build"]
            r.layer["llmops.materialize_jobs"] = _counts(raw, builds).get("jobs", 0) / float(passes_t)
            r.layer["llmops.spill_bytes"] = c.get("spill_bytes", 0) / float(passes_t)
    for key, name in (("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
                      ("planning", "physical_ms")):
        r.layer["operators." + name] = _sum(p.get(key, 0) for p in d["phases"]
                                            if p["layer"] == "operators") / passes_t
    r.layer["tables.scan_bytes"] = scan_b / float(passes_t)
    r.layer["tables.scan_records"] = scan_r / float(passes_t)


# ------------------------------------------------------------------- tracing

def _self_times(raw, r):
    t = raw["trace"]
    batch_span = raw["workload_data"].get("batch_span", {})
    spans = t["spans"] + job_spans(t, batch_span, first_id=10 ** 9)
    selfs = layer_self_times(spans)
    root = [s for s in t["spans"] if s["parent"] == 0 and s["layer"] == "uncovered"][0]
    wall = (root["end_ms"] - root["start_ms"]) / 1000.0
    r.layer["trace.wall_s"] = wall
    for l in SELF_LAYERS:
        r.layer["self.%s_s" % l] = selfs.get(l, 0.0)
    r.notes["self_sum_s"] = sum(selfs.values())
    r.notes["spans"] = len(spans)
