"""Per-layer metrics and self times from a traced run's spans and counters.

Spans come from ``.bench_build/trace/<workload>-seed<n>/spans.jsonl``. Spans
recorded without a parent (jobs, stages, sink and store calls) are linked
here: a stage to the job that lists it, anything else to the innermost span
of the same trace id that contains its start.

Sums are reported per operation of the traced phase: per pass on
``batch_*``, per timed trigger on ``stream_*`` (the warm-up triggers of the
traced query and everything they caused are left out; the sink and store
sizes cover every trigger, so those are divided by all of them).
"""
import json

from stats import median, self_intervals, tail, union_length

# (layer, span layers that belong to it); layers without spans are measured
# by counters only
LAYERS = [
    ("benchmark client (pass, query)", ("client",)),
    ("SparkEntry (query construction)", ("entry",)),
    ("Catalyst + plans + GraftExtensions", ("plan",)),
    ("execution of ops plans", ("exec",)),
    ("Tables scan", ()),
    ("shuffle / spill", ()),
    ("materialization (localCheckpoint)", ("share",)),
    ("StreamJob trigger phases", ("stream.trigger", "stream.source",
                                  "stream.planning", "stream.addBatch",
                                  "stream.commit")),
    ("TootOps parse", ("parse",)),
    ("sink (Appender over parquetAppender)", ("sink",)),
    ("store (NearDupStore / DeltaStore)", ("store",)),
    ("JVM", ()),
]

SINK_TABLES = ("mastodon_posts", "streamed_toot_counts",
               "avg_toot_length_by_user")


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def link(spans):
    """Fill in missing parents and give stages their job's layer."""
    by_id = {s["id"]: s for s in spans}
    jobs_of_stage = {}
    for s in spans:
        if s["name"] == "job":
            for st in s["attrs"].get("stage_ids", []):
                jobs_of_stage.setdefault(st, []).append(s)
    frames = [s for s in spans if s["name"] not in ("job", "stage")]
    by_trace = {}
    for s in frames:
        by_trace.setdefault(s["trace"], []).append(s)

    def innermost(s, candidates):
        best = None
        for c in candidates:
            if c is s or not (c["start_us"] <= s["start_us"] <= c["end_us"]):
                continue
            if c["end_us"] - c["start_us"] < s["end_us"] - s["start_us"]:
                continue
            if best is None or (c["start_us"], -c["end_us"]) > (
                    best["start_us"], -best["end_us"]):
                best = c
        return best

    for s in spans:
        if s["parent"] != -1 or s["name"] in ("pass", "trigger"):
            continue
        if s["name"] == "stage":
            owners = [j for j in jobs_of_stage.get(s["attrs"]["stage_id"], [])
                      if j["start_us"] <= s["start_us"] + 1000]
            if owners:
                job = max(owners, key=lambda j: j["start_us"])
                s["parent"] = job["id"]
                s["layer"] = job["layer"]
            continue
        p = innermost(s, by_trace.get(s["trace"], [])) if s["trace"] else None
        if p is not None:
            s["parent"] = p["id"]
    return by_id


def self_by_layer(spans):
    """Seconds of each span layer's self time. A layer's self intervals are
    unioned, so parallel spans of one layer (stages running side by side)
    count once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    parts = {}
    for s in spans:
        parts.setdefault(s["layer"], []).extend(self_intervals(
            (s["start_us"], s["end_us"]),
            [(c["start_us"], c["end_us"]) for c in kids.get(s["id"], [])]))
    return {layer: union_length(iv) / 1e6 for layer, iv in parts.items()}


def _ancestors(s, by_id):
    seen = 0
    while s["parent"] in by_id and seen < 64:
        s = by_id[s["parent"]]
        seen += 1
        yield s


def stream_figures(workload, ops, compacting):
    """Per-layer figures of a stream's timed triggers: rows per second and,
    on ``stream_neardup``, the trigger medians with and without a
    compaction."""
    out = {"stream.rows_per_s": median([o["rows"] / o["wall_s"]
                                        for o in ops])}
    if workload == "stream_neardup":
        out["store.plain_p50_s"] = median(
            [o["wall_s"] for o in ops if o["id"] not in compacting])
        out["store.compact_trigger_s"] = median(
            [o["wall_s"] for o in ops if o["id"] in compacting])
    return out


def layer_metrics(raw):
    """Every per-layer metric of one traced workload run, and the rows of
    the self-time table."""
    t = raw["traced"]
    workload = raw["workload"]
    is_stream = workload.startswith("stream_")
    spans = load_spans(t["spans_file"])
    by_id = link(spans)
    warm = t.get("warm_triggers", 0)
    if warm:
        dropped = {s["id"] for s in spans
                   if s["trace"].startswith("trigger:")
                   and int(s["trace"][len("trigger:"):]) < warm}
        spans = [s for s in spans
                 if s["id"] not in dropped and s["parent"] not in dropped]
    selfs = self_by_layer(spans)
    ops = t["ops"]
    n_ops = max(1, len(ops))
    cores = raw["cores"]
    jobs = [s for s in spans if s["name"] == "job"]
    stages = [s for s in spans if s["name"] == "stage"]

    def total(name):
        return sum((s["end_us"] - s["start_us"]) / 1e6 for s in spans
                   if s["name"] == name)

    def stage_sum(key):
        return sum(s["attrs"].get(key, 0) for s in stages)

    m = {}
    m["entry.build_s"] = total("build") / n_ops
    m["entry.build_jobs"] = sum(
        1 for j in jobs
        if any(a["name"] == "build" for a in _ancestors(j, by_id))) / n_ops
    m["plan.plan_s"] = total("plan") / n_ops
    m["exec.exec_s"] = union_length(
        [(j["start_us"], j["end_us"]) for j in jobs]) / 1e6 / n_ops
    m["exec.jobs"] = len(jobs) / n_ops
    m["exec.stages"] = len(stages) / n_ops
    m["exec.tasks"] = stage_sum("tasks") / n_ops
    m["exec.task_cpu_s"] = stage_sum("cpu_ns") / 1e9 / n_ops
    m["exec.busy_frac"] = stage_sum("run_ms") / 1e3 / (t["wall_s"] * cores)
    # worst stage's slowest task over its median task; stages whose
    # slowest task is under 100 ms are scheduling noise, not skew
    skews = [s["attrs"]["task_max_ms"] / max(1, s["attrs"]["task_median_ms"])
             for s in stages
             if s["attrs"]["tasks"] >= 2 and s["attrs"]["task_max_ms"] >= 100]
    m["exec.skew_max"] = max(skews, default=1.0)
    m["exec.gc_s"] = stage_sum("gc_ms") / 1e3 / n_ops
    m["scan.bytes"] = stage_sum("input_bytes") / n_ops
    m["scan.rows"] = stage_sum("input_records") / n_ops
    m["shuffle.write_bytes"] = stage_sum("shuffle_write_bytes") / n_ops
    m["shuffle.read_bytes"] = stage_sum("shuffle_read_bytes") / n_ops
    m["shuffle.fetch_wait_s"] = stage_sum("fetch_wait_ms") / 1e3 / n_ops
    m["spill.disk_bytes"] = stage_sum("spill_disk_bytes") / n_ops
    m["share.checkpoint_jobs"] = sum(
        1 for j in jobs if j["attrs"].get("checkpoint")) / n_ops
    m["share.block_bytes_peak"] = t["block_bytes_peak"]

    triggers = [s for s in spans if s["name"] == "trigger"]
    n_trig = max(1, len(triggers))

    def phase_ms(*names):
        return sum(total(n) for n in names) * 1e3 / n_trig if is_stream else 0.0

    m["stream.source_ms"] = phase_ms("latestOffset", "getBatch")
    m["stream.planning_ms"] = phase_ms("queryPlanning")
    m["stream.addbatch_ms"] = phase_ms("addBatch")
    m["stream.commit_ms"] = phase_ms("walCommit", "commitOffsets")
    m["stream.jobs_per_trigger"] = (sum(
        1 for j in jobs if j["trace"].startswith("trigger:")) / n_trig
        if is_stream else 0.0)
    m["stream.nonempty_frac"] = t.get("nonempty_frac", 0.0)
    tl = tail([o["wall_s"] for o in ops]) if is_stream else None
    m["stream.trigger_tail_s"] = tl[0] if tl else 0.0
    m["stream.trigger_tail_pct"] = tl[1] if tl else 0.0
    m["stream.triggers"] = len(ops) if is_stream else 0
    m["stream.rows_per_s"] = 0.0
    m["store.plain_p50_s"] = m["store.compact_trigger_s"] = 0.0
    if is_stream:
        m.update(stream_figures(workload, ops,
                                set(t.get("compacting_ops", []))))

    m["toot.parse_ns_per_row"] = (median(t["parse_s"]) * 1e9
                                  / raw["input_rows_per_op"]
                                  if "parse_s" in t else 0.0)
    for table in SINK_TABLES:
        m[f"sink.write_s.{table}"] = total(f"sink:{table}") / n_trig \
            if is_stream else 0.0
    sink_bytes = t.get("sink_bytes", 0)
    all_trig = n_trig + warm
    m["sink.files_per_trigger"] = t.get("sink_files", 0) / all_trig
    m["sink.bytes_per_trigger"] = sink_bytes / all_trig
    m["sink.bytes_per_row"] = sink_bytes / (all_trig * raw["input_rows_per_op"])

    def store_s(name):
        return total(name) / n_trig if "store_files" in t else 0.0

    m["store.write_s"] = store_s("store.write")
    m["store.read_s"] = store_s("store.read")
    m["store.compact_s"] = store_s("store.compact")
    m["store.compactions"] = t.get("compactions", 0)
    m["store.files"] = t.get("store_files", 0)
    m["store.view_read_s"] = median(t["read_view_s"]) \
        if "read_view_s" in t else 0.0
    m["store.bytes_per_row"] = t["store_bytes"] / max(1, t["store_docs"]) \
        if "store_bytes" in t else 0.0

    m["jvm.gc_s"] = t["jvm_gc_s"] / n_ops
    m["jvm.heap_peak_mb"] = t["heap_peak_mb"]

    # the untraced reference phase has the traced phase's length and runs
    # right after it, so JIT warm-up favours the reference, if anything
    ref_p50 = median([o["wall_s"] for o in t["ref_ops"]])
    m["trace.overhead_frac"] = median([o["wall_s"] for o in ops]) / ref_p50 - 1
    base = raw.get("baseline")
    if base:
        b_ops = base["ops"]
        m["baseline.local1_op_p50_s"] = median([o["wall_s"] for o in b_ops])
        m["baseline.local1_rows_per_s"] = median(
            [o.get("rows", base["input_rows_per_op"]) / o["wall_s"]
             for o in b_ops])
    else:
        m["baseline.local1_op_p50_s"] = 0.0
        m["baseline.local1_rows_per_s"] = 0.0

    table = []
    wall = t["wall_s"]
    for name, span_layers in LAYERS:
        own = [s for s in spans if s["layer"] in span_layers]
        self_s = sum(selfs.get(layer, 0.0) for layer in span_layers)
        table.append((name, self_s if span_layers else None,
                      self_s / wall if span_layers else None, len(own)))
    return m, table


def counters_note(m):
    """Counter-only layers, for the self-time table."""
    return {
        "Tables scan": f"{m['scan.bytes']:.0f} B, {m['scan.rows']:.0f} rows per op",
        "shuffle / spill": (f"write {m['shuffle.write_bytes']:.0f} B, read "
                            f"{m['shuffle.read_bytes']:.0f} B, fetch wait "
                            f"{m['shuffle.fetch_wait_s']:.4f} s, spill "
                            f"{m['spill.disk_bytes']:.0f} B per op"),
        "JVM": (f"gc {m['jvm.gc_s']:.4f} s per op, heap peak "
                f"{m['jvm.heap_peak_mb']:.1f} MB"),
    }
