"""Arithmetic of the warehouse benchmark: turns one JVM run's raw record
(timing samples, spans, Spark task events) into the named metrics that
run.py prints. Kept free of I/O so tests/test_metrics.py can check it."""

import json
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "commit_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "serve_p50_s": ("s", "lower"),
    "catchup_s": ("s", "lower"),
    "space_amp": ("ratio", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
}

PHASES = ("seed", "commit", "serve", "catchup", "compact")
SPARK_COUNTERS = {
    # name: (unit, better)
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "output_bytes": ("bytes", "lower"),
    "busy_ratio": ("ratio", "higher"),
}

# per-layer metric: (unit, better, how) -- `how` names the reduction in
# layer_metrics: span_* take the median over calls, commit_sum_* the
# median over commits of the per-commit total, phase_spark the median
# over phase instances of the Spark counters charged to them
LAYER = {
    "ChangeFeed.diff.s": ("s", "lower", ("commit_sum_s", "ChangeFeed.diff")),
    "ChangeFeed.diff.rows_out": ("rows", "lower", ("commit_sum_count", "ChangeFeed.diff", "rows_out")),
    "JoinView.joinDeltaFromStores.s": ("s", "lower", ("span_s", "JoinView.joinDeltaFromStores")),
    "viewfeed.rows": ("rows", "lower", ("span_count", "phase:commit", "viewfeed_rows")),
    "Coordinator.advanceMembers.s": ("s", "lower", ("span_s", "Coordinator.advanceMembers")),
    "Coordinator.advanceMembers.jobs": ("count", "lower", ("span_spark", "Coordinator.advanceMembers", "jobs")),
    "Coordinator.advanceMembers.busy_ratio": ("ratio", "higher", ("span_spark", "Coordinator.advanceMembers", "busy_ratio")),
    "Coordinator.commitCut.s": ("s", "lower", ("span_s", "Coordinator.commitCut")),
    "IncrementalAgg.readViewPruned.s": ("s", "lower", ("span_s", "IncrementalAgg.readViewPruned")),
    "IncrementalAgg.readViewPruned.jobs": ("count", "lower", ("span_spark", "IncrementalAgg.readViewPruned", "jobs")),
    "IncrementalAgg.readViewPruned.input_bytes": ("bytes", "lower", ("span_spark", "IncrementalAgg.readViewPruned", "input_bytes")),
    "IncrementalAgg.vacuumSegments.s": ("s", "lower", ("span_s", "IncrementalAgg.vacuumSegments")),
    "store.segments_written": ("count", "lower", ("span_count", "phase:commit", "segments_written")),
    "store.write_amp": ("ratio", "lower", ("write_amp",)),
    "AtomicPublish.vacuum.s": ("s", "lower", ("span_s", "AtomicPublish.vacuum")),
    "AtomicPublish.vacuum.files_removed": ("count", "higher", ("span_count", "AtomicPublish.vacuum", "files_removed")),
    "publish.conflicts": ("count", "lower", ("scalar", "publish_conflicts")),
    "AnnIndexStore.appendEncode.s": ("s", "lower", ("span_s", "AnnIndexStore.appendEncode")),
    "AnnIndexStore.appendEncode.output_bytes": ("bytes", "lower", ("span_spark", "AnnIndexStore.appendEncode", "output_bytes")),
    "AnnIndexStore.applyDeletes.s": ("s", "lower", ("span_s", "AnnIndexStore.applyDeletes")),
    "AnnIndexStore.compactSegments.s": ("s", "lower", ("span_s", "AnnIndexStore.compactSegments")),
    "AnnIndexStore.compactSegments.bytes_rewritten": ("bytes", "lower", ("span_spark", "AnnIndexStore.compactSegments", "output_bytes")),
    "AnnIndexStore.serve.s": ("s", "lower", ("span_s", "AnnIndexStore.serve")),
    "AnnIndexStore.serve.jobs": ("count", "lower", ("span_spark", "AnnIndexStore.serve", "jobs")),
    "AnnIndexStore.serve.input_bytes": ("bytes", "lower", ("span_spark", "AnnIndexStore.serve", "input_bytes")),
    "ann.segments_live": ("count", "lower", ("scalar", "ann_segments_live")),
    "ann.tombstones_live": ("count", "lower", ("scalar", "ann_tombstones_live")),
    "TextDedup.indexFeeds.s": ("s", "lower", ("span_s", "TextDedup.indexFeeds")),
    "TextDedup.probeAtCut.s": ("s", "lower", ("span_s", "TextDedup.probeAtCut")),
    "dedup.candidates_per_match": ("ratio", "lower", ("span_ratio", "TextDedup.probeAtCut", "probed", "matches")),
    "VectorSearch.ivfTrain.s": ("s", "lower", ("span_s", "VectorSearch.ivfTrain")),
    "VectorSearch.ivfPqTrain.s": ("s", "lower", ("span_s", "VectorSearch.ivfPqTrain")),
    "VectorSearch.ivfPqEncode.s": ("s", "lower", ("span_s", "VectorSearch.ivfPqEncode")),
    "quality.recall_at_10": ("ratio", "higher", ("scalar", "recall_at_10")),
    "quality.dedup_recall": ("ratio", "higher", ("scalar", "dedup_recall")),
    "Pipeline.run.s": ("s", "lower", ("span_s", "Pipeline.run")),
    "Pipeline.run.jobs": ("count", "lower", ("span_spark", "Pipeline.run", "jobs")),
    "Pipeline.run.output_bytes": ("bytes", "lower", ("span_spark", "Pipeline.run", "output_bytes")),
    "Pipeline.run.files_written": ("count", "lower", ("span_count", "Pipeline.run", "files_written")),
    "Pipeline.inserted_ratio": ("ratio", "lower", ("span_ratio", "Pipeline.run", "inserted", "offered")),
    "trace.coverage": ("ratio", "higher", ("coverage",)),
    "trace.overhead_s": ("s", "lower", ("overhead",)),
}

for _phase in PHASES:
    for _c, (_u, _b) in SPARK_COUNTERS.items():
        LAYER[f"{_phase}.spark.{_c}"] = (_u, _b, ("phase_spark", _phase, _c))

TIMED_PHASES = ("commit", "serve", "catchup", "compact")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank q-quantile of xs, or None when fewer than TAIL_SAMPLES
    samples lie strictly beyond it (the tail would rest on too few)."""
    n = len(xs)
    if n == 0:
        return None
    rank = math.ceil(q * n)  # 1-based rank of the reported sample
    if n - rank < TAIL_SAMPLES:
        return None
    return sorted(xs)[rank - 1]


def min_samples_for(q):
    """Smallest sample count for which percentile(xs, q) is reported."""
    n = 1
    while n - math.ceil(q * n) < TAIL_SAMPLES:
        n += 1
    return n


class Span:
    __slots__ = ("id", "parent", "name", "batch", "start_ns", "end_ns",
                 "start_ms", "end_ms", "counts", "children", "spark")

    def __init__(self, row):
        (self.id, self.parent, self.name, self.batch, self.start_ns,
         self.end_ns, self.start_ms, self.end_ms, self.counts) = row
        self.children = []
        self.spark = {k: 0.0 for k in ("jobs", "tasks", "task_run_s", "gc_s",
                                       "shuffle_bytes", "spill_bytes",
                                       "output_bytes", "input_bytes")}

    @property
    def dur_s(self):
        return (self.end_ns - self.start_ns) / 1e9


def build_spans(rows):
    spans = {r[0]: Span(r) for r in rows}
    for s in spans.values():
        if s.parent in spans:
            spans[s.parent].children.append(s)
    return spans


def self_time_s(span):
    """Span duration minus the part of it its children cover (children of
    one thread never overlap each other; each is clipped to the parent)."""
    covered = 0
    for c in span.children:
        lo, hi = max(c.start_ns, span.start_ns), min(c.end_ns, span.end_ns)
        covered += max(0, hi - lo)
    return (span.end_ns - span.start_ns - covered) / 1e9


def attribute(spans, job_ms, tasks, task_fields):
    """Charge each Spark job start and task end to the innermost span open
    at its wall-clock time, then roll the totals up to every ancestor.
    Returns the counters no span covered."""
    idx = {f: i for i, f in enumerate(task_fields)}
    events = [(t, 0, None) for t in job_ms] + [(r[idx["finish_ms"]], 1, r) for r in tasks]
    events.sort(key=lambda e: (e[0], e[1]))
    order = sorted(spans.values(), key=lambda s: (s.start_ms, s.id))
    loose = {k: 0.0 for k in ("jobs", "tasks")}
    stack, i = [], 0
    own = {s.id: {k: 0.0 for k in s.spark} for s in spans.values()}
    for t, kind, row in events:
        while i < len(order) and order[i].start_ms <= t:
            while stack and stack[-1].end_ms < order[i].start_ms:
                stack.pop()
            stack.append(order[i])
            i += 1
        while stack and stack[-1].end_ms < t:
            stack.pop()
        target = own[stack[-1].id] if stack else loose
        if kind == 0:
            target["jobs"] += 1
        else:
            target["tasks"] += 1
            for key, field, scale in (("task_run_s", "run_ms", 1e-3), ("gc_s", "gc_ms", 1e-3),
                                      ("shuffle_bytes", "shuffle_bytes", 1),
                                      ("spill_bytes", "spill_bytes", 1),
                                      ("output_bytes", "output_bytes", 1),
                                      ("input_bytes", "input_bytes", 1)):
                target[key] = target.get(key, 0.0) + row[idx[field]] * scale

    def roll(s):
        tot = dict(own[s.id])
        for c in s.children:
            for k, v in roll(c).items():
                tot[k] += v
        s.spark = tot
        return tot

    for s in spans.values():
        if s.parent not in spans:
            roll(s)
    return loose


def busy_ratio(span, cores):
    wall = span.dur_s
    return span.spark["task_run_s"] / (wall * cores) if wall > 0 else 0.0


def phase_coverage(spans, phases=TIMED_PHASES):
    """Per timed phase kind present: the share of its wall time that its
    child spans cover."""
    out = {}
    for p in phases:
        ph = [s for s in spans.values() if s.name == f"phase:{p}"]
        wall = sum(s.dur_s for s in ph)
        if wall > 0:
            out[p] = 1 - sum(self_time_s(s) for s in ph) / wall
    return out


def coverage(spans):
    """Lowest phase_coverage share, or None when no timed phase was traced."""
    shares = phase_coverage(spans)
    return min(shares.values()) if shares else None


def layer_metrics(rec):
    """Every per-layer metric of one traced run; layers the workload does
    not call read 0."""
    spans = build_spans(rec["spans"])
    attribute(spans, rec["jobs_ms"], rec["tasks"], rec["task_fields"])
    cores = rec["cores"]
    by_name = {}
    for s in spans.values():
        by_name.setdefault(s.name, []).append(s)

    def spark_value(s, counter):
        return busy_ratio(s, cores) if counter == "busy_ratio" else s.spark[counter]

    out = {}
    for name, (unit, _, how) in LAYER.items():
        kind, args = how[0], how[1:]
        if kind == "span_s":
            v = median([s.dur_s for s in by_name.get(args[0], [])])
        elif kind == "span_count":
            v = median([s.counts.get(args[1], 0.0) for s in by_name.get(args[0], [])])
        elif kind == "span_spark":
            v = median([spark_value(s, args[1]) for s in by_name.get(args[0], [])])
        elif kind == "commit_sum_s":  # per commit, summed over its calls
            v = median([sum(c.dur_s for c in s.children if c.name == args[0])
                        for s in by_name.get("phase:commit", [])])
        elif kind == "commit_sum_count":
            v = median([sum(c.counts.get(args[1], 0.0) for c in s.children if c.name == args[0])
                        for s in by_name.get("phase:commit", [])])
        elif kind == "span_ratio":
            num = sum(s.counts.get(args[1], 0.0) for s in by_name.get(args[0], []))
            den = sum(s.counts.get(args[2], 0.0) for s in by_name.get(args[0], []))
            v = num / den if den else 0.0
        elif kind == "phase_spark":
            v = median([spark_value(s, args[1]) for s in by_name.get(f"phase:{args[0]}", [])])
        elif kind == "scalar":
            v = rec["scalars"].get(args[0], 0.0)
        elif kind == "write_amp":
            ratios = []
            for s in by_name.get("phase:commit", []):
                feed = sum(c.counts.get("bytes_out", 0.0) for c in s.children)
                if feed > 0:
                    ratios.append(s.spark["output_bytes"] / feed)
            v = median(ratios)
        elif kind == "coverage":
            v = coverage(spans) or 0.0
        elif kind == "overhead":
            v = trace_overhead(rec)
        else:
            raise ValueError(f"unknown reduction {kind}")
        out[name] = {"value": float(v), "unit": unit}
    return out


def trace_overhead(rec):
    """Seconds the traced run spent on tracing: span bookkeeping and
    trace-only counts on the client thread plus the listener's handlers,
    over the whole run. An untraced run spends none of it."""
    return rec["trace_cost_s"] + rec["listener_s"]


def end_to_end(rec, start_s):
    """The end-to-end metrics of one run, with sample counts. `start_s` is
    the wall-clock time the benchmark process started.

    Commits are too slow for a per-run median (a Spark job costs ~0.1 s
    here and a commit runs 25-40 of them), so commit_s is the mean of the
    commit samples: their sum is one interval of several seconds.
    rows_per_s divides by commit_wall_s instead, which also holds the
    stalls between commits (curate_ingest's mid-run compaction).
    serve_p50_s is the percentile() median, so it needs
    min_samples_for(0.5) serves."""
    samples = rec["samples"]
    commits, serves = samples.get("commit", []), samples.get("serve", [])
    catchups = samples.get("catchup", [])
    setup = rec["first_op_ms"] / 1000.0 - start_s - rec["calib_before"]["elapsed_s"]
    wall = rec["commit_wall_s"]
    vals = {
        "setup_s": (setup, 1),
        "commit_s": (statistics.fmean(commits) if commits else None, len(commits)),
        "rows_per_s": (rec["rows_committed"] / wall if wall > 0 else None, len(commits)),
        "serve_p50_s": (percentile(serves, 0.5), len(serves)),
        "catchup_s": (median(catchups) if catchups else None, len(catchups)),
        "space_amp": (rec["scalars"].get("space_amp"), 1),
        "peak_rss_mb": (rec["scalars"].get("peak_rss_mb"), 1),
    }
    return {k: {"value": v, "unit": END_TO_END[k][0], "samples": n}
            for k, (v, n) in vals.items()}


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this host between two
    readings of the aggregate `cpu` line of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), or None without
    readings."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else None


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: exactly correct/attempted/failed/metrics, each
    metric reduced to its value and unit."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    })


def parse_result_line(line):
    """Inverse of result_line, validating the result line's shape."""
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return obj
