"""Turn one run record (written by perfbench.Main) into metrics.

Pure functions over the record's ops, spans, jobs and tasks, so the
arithmetic is unit-tested on its own (test_metrics.py).
"""
import math
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0

# Units of the figures end_to_end returns.
UNITS = {"setup_s": "s", "flow_s": "s", "flow_cpu_s": "s", "read_ms_p50": "ms",
         "write_amp": "ratio", "store_mb": "MB", "peak_live_heap_mb": "MB"}

# Percentiles tried for the pooled tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values) if values else None


def rank(n, p):
    """Nearest rank of percentile p among n samples: ceil(n * p / 100)."""
    return max(1, math.ceil(n * p / 100 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    return sorted(values)[rank(len(values), p) - 1]


def tail_percentile(values, min_beyond=10):
    """The highest percentile of the ladder that still has at least
    `min_beyond` samples strictly above its rank, as (p, value, n) —
    or None when there are too few samples for any of them."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - rank(n, p) >= min_beyond:
            return p, percentile(values, p), n
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span["t0"], span["t1"]
    return (hi - lo) - union_length(clip([(c["t0"], c["t1"]) for c in children], lo, hi))


def span_stats(record):
    """Per-span self time, attributed jobs and tasks, and dead air: the
    span's wall time minus the union of the task intervals of the jobs
    submitted inside it or inside its descendants."""
    spans = record.get("spans", [])
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    span_of_job = {j["job"]: j["span"] for j in record.get("jobs", [])}
    tasks_of = defaultdict(list)
    for t in record.get("tasks", []):
        tasks_of[span_of_job.get(t["job"], -1)].append(t)
    jobs_of = defaultdict(int)
    for sp in span_of_job.values():
        jobs_of[sp] += 1

    subtree_tasks = {}

    def collect(s):
        acc = list(tasks_of[s["id"]])
        for c in children[s["id"]]:
            acc += collect(c)
        subtree_tasks[s["id"]] = acc
        return acc

    for s in spans:
        if s["parent"] == -1:
            collect(s)
    out = []
    for s in spans:
        own = tasks_of[s["id"]]
        sub = subtree_tasks.get(s["id"], own)
        wall = s["t1"] - s["t0"]
        busy = union_length(clip([(t["t0"], t["t1"]) for t in sub], s["t0"], s["t1"]))
        out.append({
            "id": s["id"], "parent": s["parent"], "name": s["name"], "t0": s["t0"], "t1": s["t1"],
            "wall_ms": wall,
            "self_ms": self_time(s, children[s["id"]]),
            "jobs": jobs_of[s["id"]],
            "task_ms": sum(t["t1"] - t["t0"] for t in own),
            "dead_air_ms": wall - busy,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in own),
            "spill_bytes": sum(t["spill"] for t in own),
            "input_bytes": sum(t["input"] for t in own),
            "fs_bytes_written": s["fs_written"],
            "fs_write_ops": s["fs_write_ops"],
            "compiles": s["compiles"],
            "gc_ms": s["gc_ms"],
        })
    return out


def in_loop(record, item):
    return item["t0"] >= record["loop_t0"] and item["t1"] <= record["loop_t1"]


def loop_ops(record):
    """The ops of the timed window; warm-up ops run before it."""
    return [o for o in record["ops"] if in_loop(record, o)]


def pass_heap_peaks(record, cycles):
    """For each pass, the largest heap in use after a collection that ended
    inside it; passes without a collection give none."""
    samples = record.get("heap_after_gc", [])
    peaks = []
    for o in cycles:
        inside = [mb for t, mb in samples if o["t0"] <= t <= o["t1"]]
        if inside:
            peaks.append(max(inside))
    return peaks


def end_to_end(record):
    """Every end-to-end figure of an untraced run; BENCHMARK.json names
    the gated ones, the rest are reported beside them."""
    ops = [o for o in loop_ops(record) if o["ok"]]
    cycles = [o for o in ops if o["kind"] == "cycle"]
    reads = [o["t1"] - o["t0"] for o in ops if o["kind"] == "read"]
    written = sum(o["fs_written"] for o in cycles)
    flow_ms = median([o["t1"] - o["t0"] for o in cycles])
    cpu_ms = median([o["cpu_ms"] for o in cycles])
    return {
        "setup_s": record["setup_s"],
        "flow_s": None if flow_ms is None else flow_ms / 1000.0,
        "flow_cpu_s": None if cpu_ms is None else cpu_ms / 1000.0,
        "read_ms_p50": median(reads),
        "write_amp": written / record["delivered_bytes"] if record["delivered_bytes"] else None,
        "store_mb": record["store_bytes"] / MB,
        "peak_live_heap_mb": median(pass_heap_peaks(record, cycles)),
    }


def side_facts(record):
    """Reported beside the metrics: op counts, failure share, the pooled
    tail and the set-up breakdown."""
    ops = loop_ops(record)
    ok = [o for o in ops if o["ok"]]
    pooled = [o["t1"] - o["t0"] for o in ok if o["kind"] in ("cycle", "read")]
    tail = tail_percentile(pooled)
    return {
        "ops": {k: sum(1 for o in ok if o["kind"] == k) for k in ("cycle", "read")},
        "ops_failed_frac": sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0,
        "tail": {"pct": tail[0], "ms": tail[1], "samples": tail[2]} if tail
        else {"pct": None, "ms": None, "samples": len(pooled)},
        "store_files": record["store_files"],
        "gcs_in_loop": len(record.get("heap_after_gc", [])),
        "session_s": record["session_s"],
        "gen_s": record["gen_s"],
        "warmup_s": record["warmup_s"],
        "loop_ms": record["loop_t1"] - record["loop_t0"],
        "op_ms": [[o["kind"], o["t1"] - o["t0"], o.get("cpu_ms")] for o in ops],
    }


def per_layer(record, stats, names):
    """Every metric in `names`, from the traced run's spans; a span that
    did not occur in this workload reads 0."""
    by = defaultdict(lambda: defaultdict(float))
    loop = [s for s in stats if in_loop(record, s)]
    for s in loop:
        agg = by[s["name"].replace("+", "-")]
        for f in ("self_ms", "jobs", "task_ms", "dead_air_ms", "shuffle_write_bytes",
                  "spill_bytes", "fs_bytes_written", "fs_write_ops"):
            agg[f] += s[f]
    top = [s for s in loop if s["parent"] == -1]
    wall = record["loop_t1"] - record["loop_t0"]
    covered = union_length([(s["t0"], s["t1"]) for s in top])
    totals = {
        "workload.pin_blocks": record.get("pin_blocks", 0),
        "workload.pin_mb": record.get("pin_bytes", 0) / MB,
        "workload.codegen_compiles": sum(s["compiles"] for s in top),
        "workload.gc_ms": sum(s["gc_ms"] for s in top),
        "workload.scan_input_mb": sum(s["input_bytes"] for s in loop) / MB,
        "workload.dead_air_ms": sum(s["dead_air_ms"] for s in top),
        "workload.unattributed_ms": wall - covered,
        "workload.traced_wall_ms": wall,
    }
    out = {}
    for name in names:
        if name in totals:
            out[name] = totals[name]
            continue
        span, _, field = name.rpartition(".")
        out[name] = by[span][field] if span in by else 0.0
    return out


def attribution_gap(record, stats):
    """Wall time of the timed loop minus (sum of every span's self time +
    the unattributed gap between top-level spans): 0 up to rounding when
    the spans nest properly."""
    loop = [s for s in stats if in_loop(record, s)]
    top = [s for s in loop if s["parent"] == -1]
    wall = record["loop_t1"] - record["loop_t0"]
    unattributed = wall - union_length([(s["t0"], s["t1"]) for s in top])
    return wall - (sum(s["self_ms"] for s in loop) + unattributed)
