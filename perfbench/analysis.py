"""Pure helpers that turn a run's raw records into metrics.

A traced run records spans (name, label, start, end, parent), Spark jobs
(the span open when each started, start, end, stage ids), per-stage task
sums and per-query planning time. Times are epoch milliseconds. Nothing here
touches the filesystem or the clock, so every function is unit-tested.
"""

import math
import statistics

MB = 1024.0 * 1024.0


def percentile(samples, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def supported_percentiles(samples, ps=(50, 90, 99), min_beyond=10):
    """The percentiles of `ps` that have at least `min_beyond` samples above
    their rank, as {p: value}. Fewer samples report fewer percentiles."""
    n = len(samples)
    out = {}
    for p in ps:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n and n - rank >= min_beyond:
            out[p] = percentile(samples, p)
    return out


def latency_summary(samples, min_beyond=10):
    """Median, the highest supported percentile ('tail') and the count.
    A sample too small for any percentile reports zeros with its count."""
    got = supported_percentiles(samples, min_beyond=min_beyond)
    if not got:
        return {"p50": 0.0, "tail": 0.0, "tail_pct": 0.0, "n": len(samples)}
    top = max(got)
    return {"p50": got.get(50, 0.0), "tail": got[top], "tail_pct": float(top), "n": len(samples)}


def untraced_baseline(walls_by_seed, seed):
    """The untraced wall a traced run is compared with: the median of the
    same build's untraced runs at the same seed, else at every seed (input
    sizes do not depend on the seed). walls_by_seed: {str(seed): [wall]}."""
    same = walls_by_seed.get(str(seed))
    return statistics.median(same or [w for ws in walls_by_seed.values() for w in ws])


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans):
    out = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]].append(s)
    return out


def self_times(spans):
    """Per span id: its duration minus the part its child spans cover."""
    kids = children(spans)
    return {s["id"]: (s["end"] - s["start"])
            - union_length([(c["start"], c["end"]) for c in kids[s["id"]]], s["start"], s["end"])
            for s in spans}


def top_level(spans):
    ids = {s["id"] for s in spans}
    return [s for s in spans if s["parent"] not in ids]


def coverage(spans, body_start, body_end):
    """Share of the traced wall that the top-level spans cover."""
    wall = body_end - body_start
    if wall <= 0:
        return 0.0
    return union_length([(s["start"], s["end"]) for s in top_level(spans)],
                        body_start, body_end) / wall


COUNTERS = ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
            "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "task_wait_ms")


def _zero():
    z = {c: 0.0 for c in COUNTERS}
    z.update(jobs=0, stages=0)
    return z


def fold(spans, jobs, stages):
    """Listener records folded into counters per span.

    Each stage counts once, towards the first job (lowest id) that lists it.
    Each job counts towards the span open when it started. Returns
    (self counters per span id, inclusive counters per span id, totals);
    totals cover only jobs that started inside some span.
    """
    by_stage = {s["id"]: s for s in stages}
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for sid in j["stages"]:
            owner.setdefault(sid, j["id"])
    own = {s["id"]: _zero() for s in spans}
    for j in jobs:
        if j["span"] not in own:
            continue
        acc = own[j["span"]]
        acc["jobs"] += 1
        for sid in j["stages"]:
            st = by_stage.get(sid)
            if owner.get(sid) != j["id"] or st is None or st["tasks"] == 0:
                continue
            acc["stages"] += 1
            for c in COUNTERS[:-1]:
                acc[c] += st[c]
            acc["task_wait_ms"] += st["launch_sum"] - st["tasks"] * st["submitted"]
    kids = children(spans)
    inclusive = {}

    def incl(sid):
        if sid not in inclusive:
            acc = dict(own[sid])
            for c in kids[sid]:
                sub = incl(c["id"])
                for k in acc:
                    acc[k] += sub[k]
            inclusive[sid] = acc
        return inclusive[sid]

    totals = _zero()
    for s in spans:
        for k in totals:
            totals[k] += own[s["id"]][k]
        incl(s["id"])
    return own, inclusive, totals


def engine_metrics(c):
    """Counters as the spark.* metrics, in seconds and MB."""
    return {
        "spark.jobs": c["jobs"], "spark.stages": c["stages"], "spark.tasks": c["tasks"],
        "spark.failed_tasks": c["failed_tasks"],
        "spark.executor_run_s": c["run_ms"] / 1000.0,
        "spark.executor_cpu_s": c["cpu_ns"] / 1e9, "spark.gc_s": c["gc_ms"] / 1000.0,
        "spark.task_wait_s": c["task_wait_ms"] / 1000.0,
        "spark.input_mb": c["input_bytes"] / MB, "spark.shuffle_write_mb": c["shuffle_write_bytes"] / MB,
        "spark.shuffle_read_mb": c["shuffle_read_bytes"] / MB,
        "spark.spill_mb": c["spill_bytes"] / MB, "spark.output_mb": c["output_bytes"] / MB,
    }

