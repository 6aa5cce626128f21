"""Arithmetic of the benchmark, kept apart from process handling so it can
be unit-tested without a JVM (`python3 -m unittest discover perfbench/tests`).

A run record (written by `perfbench.Main`) holds raw observations: set-up
time, the wall and CPU time of each operation, the peak live heap, checks, and, in a traced run, every Spark
job with its stages, the benchmark's spans, and streaming progress events.
Everything below turns those into the metrics named in BENCHMARK.json.
"""
import math
import re
import statistics

MB = 1024.0 * 1024.0

QUERY_FAMILIES = {
    "iterative": ["q34_pagerank", "q39_kcore_copurchase", "q45_label_propagation",
                  "t34_chain_components"],
    "relational": ["q01_pricing_summary", "q06_region_customer_stats", "q17_point_lookup",
                   "q20_left_join_fill", "q27_percentiles", "q28_cube", "q54_rank_family"],
    "sketch": ["q44_cms_join_size", "t55_cms_estimates", "t57_bloom_decontamination",
               "t59_hll_distinct", "t53_bm25_index"],
    "streaming": ["p06_stream_hourly_windows", "p16_stream_scd2_history",
                  "p19_stream_left_outer_join"],
    "serving": ["p03_serve_tracking", "p04_serve_country", "p05b_ml_encoders"],
}
QUERIES = [q for qs in QUERY_FAMILIES.values() for q in qs]
# the layer whose span a query runs in: the serving queries call
# graft.serve and graft.ml directly, every other query goes through the
# registry's query code
QUERY_LAYERS = {q: "queries" for q in QUERIES}
QUERY_LAYERS.update({"p03_serve_tracking": "serve", "p04_serve_country": "serve",
                     "p05b_ml_encoders": "ml"})
STREAMS = {"p06": "p06_stream_hourly_windows", "p16": "p16_stream_scd2_history",
           "p19": "p19_stream_left_outer_join"}
PIPELINE_STAGES = ("bronze", "silver", "gold")


# ---- order statistics --------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, candidates=(99.9, 99.0, 95.0, 90.0), beyond=10):
    """The highest tail percentile a sample of n can report honestly: the
    one with at least `beyond` samples above it. None when even p90 has
    not."""
    for p in candidates:
        if n * (1.0 - p / 100.0) >= beyond - 1e-9:
            return p
    return None


def median(values):
    return statistics.median(values)


# ---- attribution -------------------------------------------------------

def span_key(span):
    return f"{span['layer']}|{span['id']}"


def containing_span(spans, at_ms):
    """Key of the innermost span whose interval holds `at_ms`, or None."""
    inside = [s for s in spans if s["start_ms"] <= at_ms <= s["end_ms"]]
    return span_key(min(inside, key=lambda s: s["end_ms"] - s["start_ms"])) if inside else None


def attribute(jobs, spans):
    """Assigns each job to a span key. A job carries the job group its span
    set; a job whose group is not a span's (a streaming micro-batch sets
    its own) goes to the span whose interval contains its start. Returns ({job id: span key},
    [unattributed job ids])."""
    keys = {span_key(s) for s in spans}
    out, missing = {}, []
    for j in jobs:
        key = j.get("group") if j.get("group") in keys else containing_span(spans, j["start_ms"])
        if key is None:
            missing.append(j["job"])
        else:
            out[j["job"]] = key
    return out, missing


def stage_lines(pipeline_source):
    """Line numbers where Pipeline.run opens its bronze, silver and gold
    stages (`retryStage("<stage>"`), read from the engine's source so the
    attribution follows edits to the file."""
    lines = {}
    for i, text in enumerate(pipeline_source.splitlines(), start=1):
        m = re.search(r'retryStage\("(bronze|silver|gold)"', text)
        if m and m.group(1) not in lines:
            lines[m.group(1)] = i
    return [(lines[s], s) for s in PIPELINE_STAGES if s in lines]


def pipeline_stage(job, bounds):
    """The stage of Pipeline.run a job was submitted from: the first
    Pipeline.scala frame of its call site, placed between the stage
    openings. None when no frame names Pipeline.scala."""
    for st in job.get("stages", []):
        for frame in st.get("frames", []):
            m = re.search(r"\(Pipeline\.scala:(\d+)\)", frame)
            if m:
                line, stage = int(m.group(1)), None
                for start, name in bounds:
                    if line >= start:
                        stage = name
                return stage
    return None


def pipeline_stages(jobs, bounds):
    """Stage per job of one day, in job order. A job without a Pipeline
    frame (a broadcast submitted from Spark's own thread) belongs to the
    stage of the job before it."""
    out, last = {}, None
    for j in sorted(jobs, key=lambda j: j["job"]):
        s = pipeline_stage(j, bounds) or last
        out[j["job"]] = s
        last = s
    return out


def self_times(start_ms, end_ms, ends):
    """Splits a span [start, end] at the last job end of each sequential
    sub-stage, so the parts add up to the span: each part runs from the
    previous boundary to its own last job end, the last part to the span
    end. `ends` maps stage name to its last job end, in stage order."""
    out, prev = {}, start_ms
    names = list(ends)
    for i, name in enumerate(names):
        stop = end_ms if i == len(names) - 1 else max(prev, ends[name])
        out[name] = stop - prev
        prev = stop
    return out


def overlap(jobs):
    """Sum of job durations over their wall span: 1 when jobs ran one after
    another, up to the number in flight when they overlapped."""
    if not jobs:
        return 0.0
    span = max(j["end_ms"] for j in jobs) - min(j["start_ms"] for j in jobs)
    busy = sum(j["end_ms"] - j["start_ms"] for j in jobs)
    return busy / span if span > 0 else 1.0


def work(jobs):
    """Work counts summed over jobs and the stages they ran."""
    w = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0}
    for j in jobs:
        for st in j.get("stages", []):
            if "tasks" not in st:
                continue
            w["stages"] += 1
            w["tasks"] += st["tasks"]
            w["cpu_s"] += st.get("cpu_ms", 0.0) / 1000.0
            w["gc_s"] += st.get("gc_ms", 0.0) / 1000.0
            w["shuffle_mb"] += st.get("shuffle_write_bytes", 0) / MB
            w["spill_mb"] += st.get("spill_bytes", 0) / MB
            w["output_mb"] += st.get("output_bytes", 0) / MB
    return w


# ---- metrics -----------------------------------------------------------

def host_steal_share(rec):
    """Share of the host's CPU time the hypervisor stole while the
    workload's operations ran."""
    a, b = rec["window_start"], rec["window_end"]
    jiffies = b["host_jiffies"] - a["host_jiffies"]
    return (b["host_steal_jiffies"] - a["host_steal_jiffies"]) / jiffies if jiffies > 0 else 0.0


def end_to_end(rec):
    """The gated end-to-end metrics every workload reports: set-up time,
    the mean wall time of an operation, the CPU seconds the JVM spent in
    the operations, and the peak heap the engine held between them."""
    return {
        "setup_s": (rec["setup_s"], "s"),
        "latency_ms": (latency(rec)["mean_ms"], "ms"),
        "cpu_s": (sum(o["cpu_ms"] for o in rec["ops"]) / 1000.0, "s"),
        "live_heap_mb": (rec["peak_live_heap_mb"], "MB"),
    }


def latency(rec):
    """Median and mean operation latency with the sample count, and the
    highest percentile the sample can report (`tail_percentile`), if any."""
    ms = [o["ms"] for o in rec["ops"]]
    out = {"operations": len(ms), "p50_ms": percentile(ms, 50), "mean_ms": statistics.fmean(ms)}
    tail = tail_percentile(len(ms))
    if tail:
        out[f"p{tail:g}_ms"] = percentile(ms, tail)
    return out


def detail(rec):
    """Workload-specific figures, printed with the provenance record."""
    ops = {o["name"]: o["ms"] for o in rec["ops"]}
    w = rec["workload"]
    if w == "pipeline_week":
        days = [ops[f"day{d}"] for d in range(1, rec["days"] + 1)]
        disk = {d["layer"]: d["bytes"] for d in rec["disk"]}
        return {
            "pipeline.cold_day_s": days[0] / 1000.0,
            "pipeline.warm_day_s": median(days[1:]) / 1000.0,
            "pipeline.shipments_per_s": rec["shipments_per_day"] * rec["days"] / (sum(days) / 1000.0),
            "pipeline.rerun_s": ops["rerun3"] / 1000.0,
            "pipeline.storage_amp": (disk["silver"] + disk["gold"]) / disk["bronze"],
        }
    if w == "analytics_mix":
        return {f"analytics.{f}_s": sum(ops[q] for q in qs) / 1000.0
                for f, qs in QUERY_FAMILIES.items()}
    return {}


def per_layer(rec, bounds):
    """The traced run's per-layer metrics. A layer the workload does not
    exercise reports 0: it ran no jobs and took no time."""
    jobs, spans = rec.get("jobs", []), rec.get("spans", [])
    owner, missing = attribute(jobs, spans)
    by_span = {}
    for j in jobs:
        if j["job"] in owner:
            by_span.setdefault(owner[j["job"]], []).append(j)
    m = {name: 0.0 for name in PER_LAYER}
    m["trace.jobs"] = float(len(jobs))
    m["trace.unattributed_jobs"] = float(len(missing))
    w = rec["workload"]
    if w == "pipeline_week":
        m.update(_pipeline_layers(rec, spans, by_span, bounds))
    elif w == "analytics_mix":
        m.update(_analytics_layers(rec, spans, by_span))
    return m


def _pipeline_layers(rec, spans, by_span, bounds):
    per_day = []
    for s in spans:
        if s["layer"] != "Pipeline" or not s["id"].startswith("day") or s["id"] == "day1":
            continue
        jobs = by_span.get(span_key(s), [])
        stage_of = pipeline_stages(jobs, bounds)
        parts = {st: [j for j in jobs if stage_of[j["job"]] == st] for st in PIPELINE_STAGES}
        ends = {st: max((j["end_ms"] for j in parts[st]), default=s["start_ms"])
                for st in PIPELINE_STAGES}
        wall = self_times(s["start_ms"], s["end_ms"], ends)
        day = {"pipeline": work(jobs), "gold.overlap": overlap(parts["gold"])}
        for st in PIPELINE_STAGES:
            day[st] = work(parts[st])
            day[st]["s"] = wall[st] / 1000.0
        per_day.append(day)
    med = lambda f: median([f(d) for d in per_day]) if per_day else 0.0
    m = {}
    for st in PIPELINE_STAGES:
        m[f"{st}.s"] = med(lambda d: d[st]["s"])
        m[f"{st}.cpu_s"] = med(lambda d: d[st]["cpu_s"])
        m[f"{st}.output_mb"] = med(lambda d: d[st]["output_mb"])
    m["gold.overlap"] = med(lambda d: d["gold.overlap"])
    for k in ("jobs", "stages", "tasks", "shuffle_mb", "spill_mb", "gc_s"):
        m[f"pipeline.{k}"] = med(lambda d: d["pipeline"][k])
    for d in rec.get("disk", []):
        m[f"{d['layer']}.disk_mb"] = d["bytes"] / MB
    m["rerun.jobs"] = float(len(by_span.get("Pipeline|rerun3", [])))
    return m


def _analytics_layers(rec, spans, by_span):
    ops = {o["name"]: o["ms"] for o in rec["ops"]}
    span_jobs = lambda q: by_span.get(f"{QUERY_LAYERS[q]}|{q}", [])
    m = {}
    for q in QUERIES:
        m[f"q.{q}.s"] = ops.get(q, 0.0) / 1000.0
        m[f"q.{q}.jobs"] = float(len(span_jobs(q)))
    for fam, qs in QUERY_FAMILIES.items():
        w = work([j for q in qs for j in span_jobs(q)])
        for k in ("cpu_s", "shuffle_mb", "spill_mb", "tasks"):
            m[f"analytics.{fam}.{k}"] = float(w[k])
    for short, q in STREAMS.items():
        ps = [p for p in rec.get("progress", [])
              if containing_span(spans, p["start_ms"]) == f"{QUERY_LAYERS[q]}|{q}"]
        m[f"stream.{short}.batches"] = float(len(ps))
        m[f"stream.{short}.add_batch_ms"] = float(sum(p["addBatch"] for p in ps))
        m[f"stream.{short}.commit_ms"] = float(sum(p["walCommit"] + p["commitOffsets"] for p in ps))
        m[f"stream.{short}.state_commit_ms"] = float(sum(p["state_commit_ms"] for p in ps))
    logs = [s for s in spans if s["layer"] == "io" and s["id"].startswith("log")]
    if logs:
        m["io.log_append_ms"] = median([s["end_ms"] - s["start_ms"] for s in logs])
        m["io.log_append.jobs"] = median([len(by_span.get(span_key(s), [])) for s in logs])
    return m


PER_LAYER = (
    [f"{st}.{k}" for st in PIPELINE_STAGES for k in ("s", "cpu_s", "output_mb")]
    + ["gold.overlap"]
    + [f"pipeline.{k}" for k in ("jobs", "stages", "tasks", "shuffle_mb", "spill_mb", "gc_s")]
    + [f"{st}.disk_mb" for st in PIPELINE_STAGES] + ["rerun.jobs"]
    + ["io.log_append_ms", "io.log_append.jobs"]
    + [f"q.{q}.{k}" for q in QUERIES for k in ("s", "jobs")]
    + [f"analytics.{f}.{k}" for f in QUERY_FAMILIES for k in ("cpu_s", "shuffle_mb", "spill_mb", "tasks")]
    + [f"stream.{s}.{k}" for s in STREAMS for k in ("batches", "add_batch_ms", "commit_ms", "state_commit_ms")]
    + ["trace.jobs", "trace.unattributed_jobs"]
)

def unit(name):
    """Unit of a per-layer metric, from its name's last part."""
    last = name.rsplit(".", 1)[1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    return "ratio" if last == "overlap" else "count"
