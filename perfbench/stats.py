"""Pure arithmetic behind the benchmark's figures: medians and percentiles,
failure accounting, span self time, and the per-layer attribution of a
traced job. No I/O; tested by perfbench/tests/test_stats.py."""
import math
import statistics

def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def highest_percentile(n):
    """The highest of the percentiles 99.9, 99, 95, 90, 75 and 50 with at
    least ten of n samples above it, or None when n < 20."""
    for per_mille in (999, 990, 950, 900, 750, 500):
        if n * (1000 - per_mille) >= 10 * 1000:  # exact integer arithmetic
            return per_mille / 10
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def failure_accounting(outcomes):
    """outcomes: one bool per attempted job (True = output checked OK).
    Returns (attempted, failed, ok_frac)."""
    attempted = len(outcomes)
    failed = sum(1 for ok in outcomes if not ok)
    if attempted == 0:
        return 0, 0, 0.0
    return attempted, failed, (attempted - failed) / attempted


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Span id -> self time (ns): duration minus the part of the span's
    interval covered by its direct children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - union_length(kids)
    return out


def job_spans(spans):
    """job id -> {span name: duration in seconds} (names are unique per job)."""
    jobs = {}
    for s in spans:
        jobs.setdefault(s["job"], {})[s["name"]] = (s["end_ns"] - s["start_ns"]) / 1e9
    return jobs


def covered_frac(spans, job):
    """Share of the traced job's root span that its child spans account for."""
    mine = [s for s in spans if s["job"] == job]
    root = next(s for s in mine if s["parent"] == -1)
    dur = root["end_ns"] - root["start_ns"]
    return 1.0 - self_times(mine)[root["id"]] / dur


# Which spans make up the product's own job in a traced run, so their sum
# compares with an untraced job's wall time (the tracing overhead).
PRODUCT_SPANS = {"csv_ingest": ("engine.execute",),
                 "jdbc_roundtrip": ("sources.jdbc_write", "engine.execute"),
                 "curation": ("engine.execute",)}


# Per-layer time metrics; a layer a workload never enters reads 0.
LAYER_TIMES = ("infer.cast_s", "infer.sample_s", "validate.check_s",
               "validate.quarantine_s", "transform.compile_s",
               "transform.eval_s", "engine.plan_s", "sources.read_s",
               "sources.write_s", "sources.jdbc_write_s", "sources.jdbc_read_s",
               "llm.langid_train_s", "llm.pipeline_s", "llm.shard_write_s",
               "trace.job_wall_s")


def layer_times(workload, d):
    """Per-layer seconds for one traced job from its span durations `d`.
    Each `exec.*` span runs a stage prefix into the noop sink, and the
    write spans run the last prefix into the real sink; a stage's time is
    its prefix minus the previous prefix."""
    g = lambda k: d.get(k, 0.0)
    m = {"sources.read_s": g("exec.raw"),
         "infer.cast_s": g("exec.typed" if workload == "csv_ingest" else "exec.read")
                         - g("exec.raw"),
         "engine.plan_s": g("engine.plan"),
         "trace.job_wall_s": g("job")}
    if workload == "csv_ingest":
        m["infer.sample_s"] = g("infer.sample")
        m["validate.check_s"] = g("exec.validated") - g("exec.typed")
        m["transform.compile_s"] = g("transform.compile")
        m["transform.eval_s"] = g("exec.transformed") - g("exec.validated")
        m["validate.quarantine_s"] = g("validate.quarantine")
        m["sources.write_s"] = g("sources.write") - g("exec.transformed")
    elif workload == "jdbc_roundtrip":
        m["sources.jdbc_write_s"] = g("sources.jdbc_write")
        m["sources.jdbc_read_s"] = g("exec.jdbc_read")
        m["sources.write_s"] = g("sources.write") - g("exec.jdbc_read")
    elif workload == "curation":
        m["llm.langid_train_s"] = g("llm.langid_train")
        m["llm.pipeline_s"] = g("llm.pipeline_plan") + g("exec.pipeline")
        m["llm.shard_write_s"] = g("llm.shard_write") - g("exec.pipeline")
        m["sources.write_s"] = m["llm.shard_write_s"]
    else:
        raise ValueError(f"unknown workload {workload}")
    for k in LAYER_TIMES:
        m.setdefault(k, 0.0)
    return m


# The spans that rebuild the product call (`engine.execute`: the
# TransferEngine call, or Main.runCuration) from its parts. csv_ingest: the
# engine plans once and reads the source a second time for the quarantine
# route, which samples for inference again. curation: runCuration plans
# the input, trains lang-id, builds the pipeline and writes the shards.
ATTRIBUTION = {
    "csv_ingest": ("engine.plan", "infer.sample", "validate.quarantine",
                   "sources.write"),
    "jdbc_roundtrip": ("engine.plan", "sources.write"),
    "curation": ("engine.plan", "llm.langid_train", "llm.pipeline_plan",
                 "llm.shard_write"),
}

# Largest |attribution gap| a traced run accepts: beyond it the layer
# times do not describe the product job and the traced run fails.
ATTRIBUTION_TOLERANCE = 0.5


def attribution_gap(workload, d):
    """Sum of the spans that rebuild the product call, relative to the
    product call itself, minus 1: 0 when the layers account for the job."""
    return sum(d.get(k, 0.0) for k in ATTRIBUTION[workload]) / d["engine.execute"] - 1.0


def median_by_key(rows):
    """[{k: v}, ...] -> {k: median of the values present}."""
    keys = []
    for r in rows:
        keys.extend(k for k in r if k not in keys)
    return {k: median([r[k] for r in rows if k in r]) for k in keys}
