"""Turns a raw run record (written by graftbench.Main) into metrics.

End-to-end metrics come from the untraced operations, per-layer metrics
from the traced ones. Times in the raw record are epoch milliseconds.
"""
import math
import statistics

# The layer spans the benchmark opens around its calls into graft.
SPANS = (
    "model.events_to_series",
    "functions.resample_znorm",
    "operators.knn_pruned",
    "operators.knn_ragged",
    "operators.minhash_lsh",
    "operators.connected_components",
    "ml.kmeans_fit",
    "ml.kshape_fit",
    "ml.kernel_kmeans_fit",
    "ml.predict",
)
SPAN_FIELDS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_run_s", "s"),
    ("outside_jobs_s", "s"),
    ("shuffle_write_mb", "MB"),
)
SPARK = (
    ("spark.jobs_per_op", "count"),
    ("spark.core_busy_frac", "1"),
    ("spark.outside_jobs_frac", "1"),
    ("spark.gc_s_per_op", "s"),
    ("spark.persisted_rdds_after_op", "count"),
)
KERNELS = (
    ("kernels.dtw_ea_ns_per_cell", "ns"),
    ("kernels.dtw_ragged_ns_per_cell", "ns"),
    ("kernels.lb_keogh_ns_per_point", "ns"),
    ("kernels.gak_ns_per_cell", "ns"),
    ("kernels.ncc_ns_per_pair", "ns"),
    ("kernels.dtw_cells_per_op", "computed_cells"),
)
TRACE = (
    ("trace.items_per_s_traced", "items/s"),
    ("trace.items_per_s_untraced", "items/s"),
    ("trace.overhead_frac", "1"),
)
END_TO_END = (
    ("setup_s", "s"),
    ("items_per_s", "items/s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("ok_ratio", "1"),
    ("retained_heap_mb", "MB"),
)
MB = 1048576.0


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS]
    return units + list(SPARK) + list(KERNELS) + list(TRACE)


def tail_beyond(n):
    """Operations that must lie beyond the tail percentile: ten, or a sixth
    of a run too short to leave ten beyond a useful percentile."""
    return min(10, max(1, n // 6))


def tail_rank(n):
    """The highest whole percentile p (50..99) whose nearest-rank sample
    leaves at least tail_beyond(n) of n samples above it: returns (p, rank),
    rank 1-based. Depends on n only, so a fixed operation count fixes p."""
    best = (50, max(1, math.ceil(0.5 * n)))
    for p in range(50, 100):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= tail_beyond(n):
            best = (p, rank)
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
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
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span["start_ms"], span["end_ms"]
    covered = union_length(clip([(c["start_ms"], c["end_ms"]) for c in children], lo, hi))
    return (hi - lo) - covered


def job_interval(job, fallback_end):
    end = job["end_ms"] if job["end_ms"] >= job["start_ms"] else fallback_end
    return (job["start_ms"], end)


def wall_s(op):
    return (op["end_ms"] - op["start_ms"]) / 1000.0


def items_per_s(ops):
    wall = sum(wall_s(o) for o in ops)
    return sum(o["items"] for o in ops if o["ok"]) / wall if wall > 0 else 0.0


def end_to_end(raw):
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls = sorted(wall_s(o) for o in ops)
    p, rank = tail_rank(len(walls))
    values = {
        "setup_s": statistics.median(raw["setup_s"]) + raw["warm_up_s"],
        "items_per_s": items_per_s(ops),
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": walls[rank - 1],
        "ok_ratio": sum(1 for o in ops if o["ok"]) / len(ops),
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    tail = {"percentile": p, "operations": len(walls), "beyond": len(walls) - rank}
    return values, tail


def per_layer(raw):
    ops = {o["i"]: o for o in raw["ops"] if o["traced"]}
    spans = [s for s in raw["spans"] if s["op"] in ops]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    jobs_by_span = {}
    for j in raw["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    values = {}
    for name in SPANS:
        rows = []
        for s in (x for x in spans if x["name"] == name):
            js = jobs_by_span.get(s["id"], [])
            ivs = clip([job_interval(j, s["end_ms"]) for j in js], s["start_ms"], s["end_ms"])
            rows.append({
                "self_s": self_time(s, by_parent.get(s["id"], [])) / 1000.0,
                "jobs": len(js),
                "tasks": sum(j["tasks"] for j in js),
                "task_run_s": sum(j["task_run_ms"] for j in js) / 1000.0,
                "outside_jobs_s": (s["end_ms"] - s["start_ms"] - union_length(ivs)) / 1000.0,
                "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in js) / MB,
            })
        for field, _ in SPAN_FIELDS:
            values[f"{name}.{field}"] = statistics.median(r[field] for r in rows) if rows else 0.0

    op_spans = {}
    for s in spans:
        op_spans.setdefault(s["op"], []).append(s["id"])
    jobs_per_op, busy_ms, outside_ms, wall_ms = [], 0.0, 0.0, 0.0
    for i, op in ops.items():
        js = [j for sid in op_spans.get(i, []) for j in jobs_by_span.get(sid, [])]
        w = op["end_ms"] - op["start_ms"]
        ivs = clip([job_interval(j, op["end_ms"]) for j in js], op["start_ms"], op["end_ms"])
        jobs_per_op.append(len(js))
        busy_ms += sum(j["task_run_ms"] for j in js)
        outside_ms += w - union_length(ivs)
        wall_ms += w
    n = max(1, len(ops))
    values["spark.jobs_per_op"] = sum(jobs_per_op) / n
    values["spark.core_busy_frac"] = busy_ms / (wall_ms * raw["cores"]) if wall_ms else 0.0
    values["spark.outside_jobs_frac"] = outside_ms / wall_ms if wall_ms else 0.0
    values["spark.gc_s_per_op"] = sum(o["gc_ms"] for o in ops.values()) / 1000.0 / n
    values["spark.persisted_rdds_after_op"] = sum(o["persisted_rdds"] for o in ops.values()) / n
    for name, _ in KERNELS:
        values[name] = raw["kernels"][name]
    traced = items_per_s(list(ops.values()))
    untraced = items_per_s([o for o in raw["ops"] if not o["traced"]])
    values["trace.items_per_s_traced"] = traced
    values["trace.items_per_s_untraced"] = untraced
    values["trace.overhead_frac"] = 1.0 - traced / untraced if untraced else 0.0
    return values


def summarize(raw):
    """Returns (result, record): the result line the benchmark prints last,
    and the fuller record printed before it."""
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    digests_agree = len(set(raw["input_digests"])) == 1
    if raw["trace"]:
        values, units = per_layer(raw), per_layer_units()
    else:
        e2e, tail = end_to_end(raw)
        values, units = e2e, END_TO_END
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units}
    correct = failed == 0 and digests_agree and not raw["setup_errors"]
    result = {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}
    record = {
        "workload": raw["workload"],
        "seed": raw["seed"],
        "trace": raw["trace"],
        "cycle": raw["cycle"],
        "ops_per_run": raw["ops_per_run"],
        "setup_s_all": raw["setup_s"],
        "setup_phases": raw["setup_phases"],
        "warm_up_s": raw["warm_up_s"],
        "loop_s": raw["loop_s"],
        "input_digest": raw["input_digests"][0],
        "input_digests_agree": digests_agree,
        "setup_errors": raw["setup_errors"][:5],
        "op_errors": [e for o in ops for e in o["errors"]][:5],
        "op_walls_s": {k: [round(wall_s(o), 4) for o in ops if o["kind"] == k]
                       for k in dict.fromkeys(raw["cycle"])},
    }
    if not raw["trace"]:
        record["latency_tail"] = tail
        record["failed_ratio"] = failed / len(ops)
    return result, record
