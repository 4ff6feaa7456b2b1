"""Arithmetic that turns a raw run record into benchmark metrics.

Pure functions over plain lists and dicts, so the rules are testable
without Spark: percentiles, interval unions, span self time, the
per-trigger breakdown and freshness from offsets and schedule."""
import math
import statistics

MIN_TAIL = 10


def nearest_rank(values, p):
    """Nearest-rank percentile (0 < p <= 1); None for no samples."""
    if not values:
        return None
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tail_percentile(values, p, min_tail=MIN_TAIL):
    """Nearest-rank percentile that is reported only when at least
    `min_tail` samples lie beyond it; None otherwise."""
    n = len(values)
    if n == 0 or n - math.ceil(p * n) < min_tail:
        return None
    return nearest_rank(values, p)


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


def warm_triggers(triggers):
    """Durations of the triggers that carried input, leaving out each
    query's first one (the cold start, or the replay of the batch a
    crash interrupted)."""
    by_query = {}
    for t in sorted(triggers, key=lambda t: t["start"]):
        if t["input_rows"] > 0:
            by_query.setdefault(t["query"], []).append(t["durations"]["triggerExecution"])
    return [d for ds in by_query.values() for d in ds[1:]]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by a set of [start, end] intervals,
    optionally clipped to the window [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> duration minus the time its direct children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def trigger_end(t):
    return t["start"] + t["durations"].get("triggerExecution", 0)


def batch_jobs(jobs, batch, phase=""):
    """Jobs the engine labelled `cdc batch <batch>: <phase>...`."""
    prefix = f"cdc batch {batch}: {phase}"
    return [j for j in jobs if j["desc"].startswith(prefix) and j["end"] >= j["start"]]


def trigger_jobs(t, jobs):
    """Jobs that ran inside the trigger's window. Spark leaves the
    description off jobs it launches from its own threads (broadcasts,
    adaptive stages), so jobs are matched by time; jobs labelled `bi `
    belong to the concurrent reader and are left out."""
    lo, hi = t["start"], trigger_end(t)
    return [j for j in jobs if j["end"] >= j["start"] and j["start"] < hi and j["end"] > lo
            and not j["desc"].startswith("bi ")]


def trigger_breakdown(t, jobs):
    """Split one trigger into bookkeeping (triggerExecution - addBatch),
    job time (union of the Spark jobs inside the trigger) and driver
    self time (addBatch minus job time)."""
    total = t["durations"].get("triggerExecution", 0)
    add = t["durations"].get("addBatch", 0)
    own = trigger_jobs(t, jobs)
    job = union_length([(j["start"], j["end"]) for j in own], t["start"], trigger_end(t))
    return {"total": total, "bookkeeping": total - add, "job": job,
            "driver_self": add - job, "jobs": len(own),
            "tasks": sum(j["tasks"] for j in own)}


def breakdown_holds(b):
    """The split is real only when no part is negative: Spark jobs inside
    the trigger's window that add up to more than `addBatch` ran outside
    it, and the job time would then be charged to the wrong part."""
    return min(b["bookkeeping"], b["driver_self"], b["job"]) >= 0


def phase_windows(t, jobs):
    """The engine labels jobs `preamble` from the batch's first action
    until staging starts, then `stage <table>`. Phase wall times: the
    preamble phase runs from the first preamble job to the first stage
    job (or the last preamble job's end); the stage phase from the
    first stage job to the last stage job's end."""
    lo, hi = t["start"], trigger_end(t)
    pre = [j for j in batch_jobs(jobs, t["batch"], "preamble") if lo <= j["start"] < hi]
    stg = [j for j in batch_jobs(jobs, t["batch"], "stage") if lo <= j["start"] < hi]
    p_end = min(j["start"] for j in stg) if stg else max([j["end"] for j in pre] or [0])
    preamble = p_end - min(j["start"] for j in pre) if pre else 0
    stage = max(j["end"] for j in stg) - min(j["start"] for j in stg) if stg else 0
    return preamble, stage


def offset_of(s):
    return int(s) if s not in (None, "") else 0


def freshness(schedule, triggers, first=0):
    """Per file: time from its scheduled write to the end of the trigger
    that committed it. `schedule[j]` belongs to the file at offset
    `first + j`; file i is committed by the first trigger (in start
    order) whose end offset exceeds i. None if no trigger did."""
    ordered = sorted(triggers, key=lambda t: t["start"])
    out = []
    for j, at in enumerate(schedule):
        done = next((trigger_end(t) for t in ordered
                     if offset_of(t["end_offset"]) > first + j), None)
        out.append(None if done is None else done - at)
    return out


def backlog(written, triggers, first=0):
    """Files written but not yet taken by a trigger, sampled at each
    trigger start; `written[j]` is the write time of file `first + j`."""
    out = []
    for t in sorted(triggers, key=lambda t: t["start"]):
        n_written = first + sum(1 for w in written if w <= t["start"])
        out.append(max(0, n_written - offset_of(t["start_offset"])))
    return out


def backlog_growing(samples, rise=1.25):
    """Sustained growth: the backlog rose at each of the last two
    samples and ended more than `rise` times where those three began.
    Fewer than three samples cannot show a trend, so they count as
    growth."""
    if len(samples) < 3:
        return True
    a, b, c = samples[-3:]
    return a < b < c and c > rise * a


def geomean(values):
    """Geometric mean: a typical latency over a mixed query set that
    weighs a 10% change of every query alike."""
    if not values:
        return None
    return math.exp(sum(math.log(v) for v in values) / len(values))
