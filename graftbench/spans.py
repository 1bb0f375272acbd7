"""Turns a run record (written by graftbench.Main) into metrics.

Span arithmetic: a span's self time is its duration minus the part of
its interval covered by its child spans. Spark jobs are charged to the
span whose id their submitting thread published; a job whose published
span was not open when the job started (a pool thread keeps the
property it inherited when it was created) is charged by time to the
innermost span open at that moment. A stage is charged to the first job
that lists it.
"""
import math
import statistics

# Per-layer spans, by module. A workload reports 0 for spans it never opens.
SPANS = [
    "sources.FileSource.read",
    "sources.Incremental.loadState",
    "sources.Incremental.extract",
    "sources.Incremental.saveState",
    "ops.Writer.write.replace",
    "ops.Writer.write.merge",
    "ops.IncrementalModel.run",
    "ops.Snapshot.check",
    "dag.Dag.runMaterialized",
    "quality.Checks.run",
    "quality.Freshness.check",
]
SPAN_FIELDS = ["s", "jobs", "task_s", "shuffle_bytes", "bytes_written"]
RATIOS = [
    "ops.Writer.write.merge.rewrite_ratio",
    "sources.Incremental.extract.selectivity",
    "quality.Checks.run.scans",
    "ops.Snapshot.check.changed_ratio",
]
SPARK = ["spark.jobs", "spark.task_s", "spark.core_util", "spark.shuffle_bytes",
         "spark.spill_bytes", "spark.cache_entries_left", "spark.conf_keys_changed"]
# The analytics_mix queries; run.py hands this list to the JVM side.
MIX_QUERIES = [
    "q280_identity_stitch", "q16_catalog_introspect",
    "q131_pagerank", "q196_label_prop",
    "q25_ngram_jaccard", "q74_quantile_profile",
    "q269_stream_upsert",
    "q01_full_scan_agg",
]
MIX_FIELDS = ["s", "jobs", "task_s"]

SLACK_MS = 1.0


def per_layer_names():
    return ([f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS] + RATIOS + SPARK
            + ["trace.overhead_s"]
            + [f"mix.{q}.{f}" for q in MIX_QUERIES for f in MIX_FIELDS])


def per_layer_unit(name):
    last = name.rsplit(".", 1)[1]
    return {"s": "s", "task_s": "s", "overhead_s": "s", "jobs": "count",
            "shuffle_bytes": "bytes", "bytes_written": "bytes", "spill_bytes": "bytes",
            "cache_entries_left": "count", "conf_keys_changed": "count",
            "scans": "count", "core_util": "ratio"}.get(last, "ratio")


def _union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in ms}: duration minus the union of the
    children's intervals, each clipped to the parent's interval."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        covered = _union_length([(a, b) for a, b in kids if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def innermost(spans, t):
    """Id of the innermost (latest-starting) span open at time t, or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["id"]


def attribute(spans, listener):
    """({job id: span id}, {stage id: span id}) for the traced run."""
    by_id = {s["id"]: s for s in spans}
    job_span = {}
    for j in listener["jobs"]:
        s = by_id.get(j["span"])
        if s is not None and s["start"] - SLACK_MS <= j["time"] <= s["end"] + SLACK_MS:
            job_span[j["job"]] = s["id"]
        else:
            sid = innermost(spans, j["time"])
            if sid is not None:
                job_span[j["job"]] = sid
    stage_span = {}
    for j in sorted(listener["jobs"], key=lambda j: j["job"]):
        if j["job"] in job_span:
            for st in j["stages"]:
                stage_span.setdefault(st, job_span[j["job"]])
    return job_span, stage_span


def units(spans, mode_records):
    """Root spans (one per unit) with their pass and position, in order."""
    ok = {r["trace"]: r["ok"] for r in mode_records}
    out = []
    for s in spans:
        if s["parent"] == -1:
            _, _, p, i = s["trace"].split("/")
            out.append({"pass": int(p), "pos": int(i), "name": s["name"],
                        "s": (s["end"] - s["start"]) / 1000.0,
                        "ok": ok.get(s["trace"], False) and not s["failed"]})
    return out


def pass_times(us):
    """Sum of unit latencies per pass, for passes whose units all succeeded."""
    by = {}
    for u in us:
        by.setdefault(u["pass"], []).append(u)
    return [sum(u["s"] for u in g) for g in by.values() if all(u["ok"] for u in g)]


def tail(values, beyond=10):
    """(percentile, value): the highest percentile with at least `beyond`
    samples above it, or (None, None) with too few samples."""
    v = sorted(values)
    n = len(v)
    if n <= beyond:
        return None, None
    return 100.0 * (n - beyond) / n, v[n - beyond - 1]


def geomean(values):
    return math.exp(sum(math.log(x) for x in values) / len(values))


# A batch is what lands data and makes it ready: one small batch on
# elt_incremental, the whole pass elsewhere (a full refresh; the mix read
# as one batch of queries).
BATCH_IS_UNIT = {"elt_incremental"}


def end_to_end(record, gen_s):
    """The untraced run's user-visible metrics, plus the summary-only ones."""
    us = units(record["spans"], [r for r in record["units"] if r["mode"] == "untraced"])
    good = [u["s"] for u in us if u["ok"]]
    by_pos = {}
    for u in us:
        if u["ok"]:
            by_pos.setdefault(u["pos"], []).append(u["s"])
    passes = pass_times(us)
    batches = good if record["workload"] in BATCH_IS_UNIT else passes
    recs = [r for r in record["units"] if r["mode"] == "untraced"]
    landed = sum(r.get("landed_bytes", 0) for r in recs)
    written = sum(r.get("bytes_written", 0) for r in recs)
    pct, tail_s = tail(batches)
    return {
        "setup_s": statistics.median(gen_s) + record["setup_s"] + record["warmup_s"],
        "pipeline_s": statistics.median(passes) if passes else None,
        "batch_p50_s": statistics.median(batches) if batches else None,
        "query_geomean_s": geomean([statistics.median(v) for v in by_pos.values()])
        if by_pos else None,
        "peak_rss_mb": record["peak_rss_kb"] / 1024.0,
    }, {
        "batches": len(batches),
        "batch_tail_s": tail_s, "batch_tail_pct": pct,
        "write_amp": written / landed if landed else None,
        "bytes_written": written, "landed_bytes": landed,
    }


def per_layer(record):
    """Per-layer metrics from the traced units of a traced run."""
    spans = record["traced_spans"]
    listener = record["listener"]
    cores = record["cores"]
    recs = [r for r in record["units"] if r["mode"] == "traced"]
    n_units = max(1, len(recs))
    job_span, stage_span = attribute(spans, listener)
    selft = self_times(spans)
    name_of = {s["id"]: s["name"] for s in spans}
    stages = {}
    for st in listener["stages"]:
        stages.setdefault(st["stage"], []).append(st)

    agg = {}

    def add(name, field, v):
        d = agg.setdefault(name, {})
        d[field] = d.get(field, 0) + v

    for s in spans:
        add(s["name"], "s", selft[s["id"]] / 1000.0)
        add(s["name"], "calls", 1)
    for sid in job_span.values():
        add(name_of[sid], "jobs", 1)
    for st_id, sid in stage_span.items():
        for st in stages.get(st_id, []):
            n = name_of[sid]
            add(n, "task_s", st["task_ms"] / 1000.0)
            add(n, "shuffle_bytes", st["shuffle_write"])
            add(n, "bytes_written", st["bytes_written"])
            add(n, "records_written", st["records_written"])
            add(n, "spill", st["spill"])
            if st["records_read"] > 0 or st["bytes_read"] > 0:
                add(n, "scans", 1)

    m = {}
    for name in SPANS:
        d = agg.get(name, {})
        for f in SPAN_FIELDS:
            m[f"{name}.{f}"] = d.get(f, 0) / n_units

    def total(field):
        return sum(r.get(field, 0) for r in recs)

    def ratio(a, b):
        return a / b if b else 0.0

    merge = agg.get("ops.Writer.write.merge", {})
    checks = agg.get("quality.Checks.run", {})
    m["ops.Writer.write.merge.rewrite_ratio"] = ratio(merge.get("records_written", 0),
                                                      total("rows_extracted"))
    m["sources.Incremental.extract.selectivity"] = ratio(total("rows_extracted"),
                                                         total("rows_read"))
    m["quality.Checks.run.scans"] = ratio(checks.get("scans", 0), checks.get("calls", 0))
    m["ops.Snapshot.check.changed_ratio"] = ratio(total("snapshot_changed"),
                                                  total("snapshot_current"))

    roots = [s for s in spans if s["parent"] == -1]
    leaves = [s for s in spans if not any(c["parent"] == s["id"] for c in spans)]
    wall_s = sum(s["end"] - s["start"] for s in roots) / 1000.0
    task_s = sum(d.get("task_s", 0) for d in agg.values())
    m["spark.jobs"] = len(job_span) / n_units
    m["spark.task_s"] = task_s / n_units
    m["spark.core_util"] = ratio(task_s, wall_s * cores)
    m["spark.shuffle_bytes"] = sum(d.get("shuffle_bytes", 0) for d in agg.values()) / n_units
    m["spark.spill_bytes"] = sum(d.get("spill", 0) for d in agg.values()) / n_units
    m["spark.cache_entries_left"] = sum(s["cache_left"] for s in leaves) / n_units
    m["spark.conf_keys_changed"] = sum(s["conf_changed"] for s in leaves) / n_units

    m["trace.overhead_s"] = overhead(record)

    for q in MIX_QUERIES:
        d = agg.get(f"mix.{q}", {})
        for f in MIX_FIELDS:
            m[f"mix.{q}.{f}"] = d.get(f, 0) / max(1, d.get("calls", 0))
    return m


def overhead(record):
    """Tracing overhead of a traced run: the median, over pairs of passes
    and unit positions, of traced minus untraced unit latency. The JVM
    side runs every position once in each mode per pair of passes, in
    alternating order (Main.tracedUnit)."""
    lat = {}
    for mode, key in (("traced", "traced_spans"), ("untraced", "spans")):
        recs = [r for r in record["units"] if r["mode"] == mode]
        for u in units(record[key], recs):
            if u["ok"]:
                lat.setdefault((u["pass"] // 2, u["pos"]), {})[mode] = u["s"]
    diffs = [d["traced"] - d["untraced"] for d in lat.values() if len(d) == 2]
    return statistics.median(diffs) if diffs else 0.0
