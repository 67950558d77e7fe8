"""Arithmetic that turns the harness's raw measurements into metrics.

Kept free of I/O so test_metrics.py can pin it down.
"""
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# end-to-end metrics: every workload reports every one of them
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("heap_retained_mb", "MB"),
    ("artifact_bytes", "B"),
]

DAILY_SPANS = ["discover", "validate", "dedup", "export", "sqlitefile"]
DAILY_COUNTERS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                  ("task_cpu_s", "s"), ("gc_s", "s"),
                  ("shuffle_write_bytes", "B"), ("input_rows", "rows")]
BATCH_SPANS = ["q03", "g05", "s16", "lake_write", "lake_read"]
BATCH_COUNTERS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                  ("task_cpu_s", "s"), ("gc_s", "s"),
                  ("shuffle_write_bytes", "B")]
STREAM_SPANS = ["st02", "st04", "st11"]
STREAM_COUNTERS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                   ("task_cpu_s", "s"), ("gc_s", "s"),
                   ("shuffle_write_bytes", "B"), ("batches", "count"),
                   ("planning_s", "s"), ("add_batch_s", "s"),
                   ("log_commit_s", "s"), ("state_commit_s", "s"),
                   ("state_rows", "rows")]
WORKLOADS = ["daily-pack", "engine-mix"]
EXTRA_LAYER = [
    ("sqlitefile.pages", "count"),
    ("sqlitefile.index_entries", "count"),
    ("sqlitefile.share", "ratio"),
    ("export.share", "ratio"),
    ("export.heap_live_peak_mb", "MB"),
    ("daily-pack.scan_amplification", "ratio"),
    ("pack.zip_bytes", "B"),
    ("pack.db_bytes", "B"),
    ("pack.artifact_query_ms", "ms"),
] + [(f"{w}.trace_overhead_frac", "ratio") for w in WORKLOADS] + [
    ("failed_frac", "ratio"),
]


def per_layer_names():
    """Every per-layer metric (name, unit), the same list for each
    workload: spans a workload does not run report 0."""
    out = []
    for spans, counters in ((DAILY_SPANS, DAILY_COUNTERS),
                            (BATCH_SPANS, BATCH_COUNTERS),
                            (STREAM_SPANS, STREAM_COUNTERS)):
        out += [(f"{s}.{c}", u) for s in spans for c, u in counters]
    return out + EXTRA_LAYER


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
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


def driver_s(span, jobs):
    """Span wall time not covered by any of its Spark jobs: the time the
    driver thread spent outside the engine's task scheduler. Jobs are
    clipped to the span's window; unfinished jobs count to its end."""
    t0, t1 = span["t0_ms"], span["t1_ms"]
    ivs = []
    for j in jobs:
        s, e = j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else t1
        s, e = max(s, t0), min(e, t1)
        if e > s:
            ivs.append((s, e))
    return max(0.0, span["wall_s"] - union_ms(ivs) / 1e3)


def scan_amplification(fact_rows_read, fact_rows):
    """Fact-table rows the job's scans produced per fact-table row."""
    return fact_rows_read / fact_rows


def failed_frac(attempted, failed):
    return failed / attempted


def share(part, whole):
    return part / whole if whole > 0 else 0.0


def span_counters(spans, jobs, tasks):
    """Counters per span name, plus the numeric extras the harness
    recorded with the span (pages, streaming progress)."""
    out = {}
    for s in spans:
        name = s["name"]
        own = [j for j in jobs if j["span"] == name]
        t = tasks.get(name, {})
        c = {"wall_s": s["wall_s"], "driver_s": driver_s(s, own),
             "jobs": len(own),
             "task_cpu_s": t.get("task_cpu_s", 0.0),
             "gc_s": t.get("gc_s", 0.0),
             "shuffle_write_bytes": t.get("shuffle_write_bytes", 0),
             "input_rows": t.get("input_rows", 0)}
        for k, v in (s.get("extra") or {}).items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                c[k] = v
        out[name] = c
    return out
