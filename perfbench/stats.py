"""Summary arithmetic of the benchmark: percentiles, quartiles, geometric
mean, interval unions and span self times, and the two metric sets
computed from the raw record the harness writes."""
import math
import statistics


def percentile(values, p):
    """The p-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, over the median
    (0 when the median is 0)."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# span tuple fields, as the harness writes them
ID, NAME, START, END, PARENT, RUN = range(6)
# spans the Spark listeners record; all others come from the harness
LISTENER = frozenset({"job", "stage", "analysis", "optimization", "planning"})


def attach(spans, tolerance=1.0):
    """Give every parentless listener span (job, stage, Catalyst phase)
    the innermost harness span of the same run (or, for phases, of any
    run) that contains its start. Listener spans that no harness span
    contains are dropped."""
    harness = [s for s in spans if s[NAME] not in LISTENER]
    by_run = {}
    for h in harness:
        by_run.setdefault(h[RUN], []).append(h)
    out = list(harness)
    for s in spans:
        if s[NAME] not in LISTENER:
            continue
        best = None
        for h in by_run.get(s[RUN], []) if s[RUN] else harness:
            if h[START] - tolerance <= s[START] <= h[END] + tolerance:
                if best is None or h[END] - h[START] < best[END] - best[START]:
                    best = h
        if best is not None:
            out.append((s[ID], s[NAME], s[START], s[END], best[ID], best[RUN]))
    return out


def self_times(spans):
    """Map span id -> duration minus the part its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s[PARENT], []).append((s[START], s[END]))
    return {s[ID]: (s[END] - s[START]) - union_length(children.get(s[ID], []), s[START], s[END])
            for s in spans}


def _per_pass(samples, keep):
    passes = {}
    for s in samples:
        if keep(s):
            passes.setdefault(s["pass"], []).append(s["ms"])
    return [sum(v) for _, v in sorted(passes.items())]


def end_to_end(rec, launched_s):
    """The end-to-end metrics of an untraced run."""
    samples = [s for s in rec["samples"] if not s["traced"]]
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["ms"])
    return {
        "setup_s": (rec["counters"]["setup_end_ms"] / 1000.0 - launched_s, "s"),
        "wall_s": (statistics.median(_per_pass(samples, lambda s: True)) / 1000.0, "s"),
        "op_geomean_ms": (geomean(statistics.median(v) for v in by_op.values()), "ms"),
        "heap_peak_mb": (rec["counters"]["heap_peak_bytes"] / 2.0 ** 20, "MB"),
    }


def per_layer(rec):
    """The per-layer metrics of a traced run, per traced pass."""
    traced_passes = sorted({p["pass"] for p in rec["passes"] if p["traced"]})
    n = float(len(traced_passes))
    spans = attach([tuple(s) for s in rec["spans"]])
    selfs = self_times(spans)
    by_id = {s[ID]: s for s in spans}

    def total(name, self_time=False):
        return sum(selfs[s[ID]] if self_time else s[END] - s[START]
                   for s in spans if s[NAME] == name) / n

    def under(name, parent_name):
        return sum(1 for s in spans if s[NAME] == name and s[PARENT] in by_id
                   and by_id[s[PARENT]][NAME] == parent_name) / n

    runs = rec["runs"]
    op_span = {s[RUN]: s for s in spans if s[PARENT] == 0 and s[NAME] not in LISTENER}

    def runs_sum(key, keep=lambda r: True):
        return sum(r.get(key, 0) for r in runs if keep(r)) / n

    wall = sum(op_span[r["run"]][END] - op_span[r["run"]][START] for r in runs if r["run"] in op_span)
    gap = sum((op_span[r["run"]][END] - op_span[r["run"]][START]) -
              union_length(r["busy"], op_span[r["run"]][START], op_span[r["run"]][END])
              for r in runs if r["run"] in op_span)

    counters = rec["counters"]
    pc = [c for c in rec["pass_counters"] if c["pass"] in traced_passes]
    batches = [b for b in rec["batches"] if b["traced"]]
    trigger = [b["trigger_ms"] for b in batches]
    drain_ms = sum(s["ms"] for s in rec["samples"] if s["traced"] and s["op"] == "stream_drain")
    accepted = counters.get("accepted_keys", 0)

    def pc_sum(key):
        return sum(c.get(key, 0) for c in pc) / n

    # pass 0 can run cold, so the overhead compares against later passes
    untraced = _per_pass(rec["samples"], lambda s: not s["traced"] and s["pass"] > 0)
    traced = _per_pass(rec["samples"], lambda s: s["traced"])
    overhead = statistics.median(traced) - statistics.median(untraced)

    m = {
        "queries.build_ms": (total("build", self_time=True), "ms"),
        "queries.build_jobs": (under("job", "build"), "count"),
        "catalyst.analysis_ms": (total("analysis"), "ms"),
        "catalyst.optimization_ms": (total("optimization"), "ms"),
        "catalyst.planning_ms": (total("planning"), "ms"),
        "spark.jobs": (runs_sum("jobs"), "count"),
        "spark.stages": (runs_sum("stages"), "count"),
        "spark.tasks": (runs_sum("tasks"), "count"),
        "spark.driver_gap_ms": (gap / n, "ms"),
        "task.run_ms": (runs_sum("run_ms"), "ms"),
        "task.cpu_ms": (runs_sum("cpu_ms"), "ms"),
        "task.gc_ms": (runs_sum("gc_ms"), "ms"),
        "task.deser_ms": (runs_sum("deser_ms"), "ms"),
        "exec.slot_util": (runs_sum("run_ms") * n / (wall * rec["cores"]) if wall else 0.0, "ratio"),
        "shuffle.read_bytes": (runs_sum("shuffle_read_bytes"), "B"),
        "shuffle.write_bytes": (runs_sum("shuffle_write_bytes"), "B"),
        "spill.bytes": (runs_sum("spill_bytes"), "B"),
        "scan.input_bytes": (runs_sum("input_bytes"), "B"),
        "scan.input_records": (runs_sum("input_records"), "count"),
        "cache.pinned_bytes": (runs_sum("pinned_bytes"), "B"),
        "cache.release_ms": (total("release"), "ms"),
        "ingest.dblp_parse_ms": (total("ingest.parse"), "ms"),
        "ingest.dblp_errors": (pc_sum("dblp_errors"), "count"),
        "ingest.accept_ratio": (accepted / counters["input_records"] if accepted else 0.0, "ratio"),
        "ingest.rows_per_s": (accepted * n / (drain_ms / 1000.0) if drain_ms else 0.0, "1/s"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.batch_p50_ms": (percentile(trigger, 50) if trigger else 0.0, "ms"),
        "streaming.batch_p90_ms": (percentile(trigger, 90) if trigger else 0.0, "ms"),
        "streaming.add_batch_ms": (sum(b["add_batch_ms"] for b in batches) / n, "ms"),
        "streaming.query_planning_ms": (sum(b["query_planning_ms"] for b in batches) / n, "ms"),
        "streaming.wal_commit_ms": (sum(b["wal_commit_ms"] for b in batches) / n, "ms"),
        "streaming.commit_offsets_ms": (sum(b["commit_offsets_ms"] for b in batches) / n, "ms"),
        "streaming.state_rows": (pc_sum("state_rows"), "count"),
        "streaming.state_memory_bytes": (pc_sum("state_memory_bytes"), "B"),
        "io.bytes_written": (pc_sum("bytes_written"), "B"),
        "io.write_amplification": (pc_sum("bytes_written") / counters["input_bytes"]
                                   if "input_bytes" in counters else 0.0, "ratio"),
        "jobs.topics_ms": (total("job.topics"), "ms"),
        "jobs.community_ms": (total("job.community"), "ms"),
        "jobs.association_ms": (total("job.association"), "ms"),
        "jobs.csv_ms": (total("job.csv"), "ms"),
        "jobs.spark_jobs": (runs_sum("jobs", lambda r: r["op"].startswith("job.")), "count"),
        "trace.overhead_ms": (overhead, "ms"),
        "trace.overhead_pct": (100.0 * overhead / statistics.median(untraced), "%"),
    }
    return m
