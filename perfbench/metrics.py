"""Statistics of one benchmark run: end-to-end metrics from the timed
samples and the per-layer table from the traced run's spans and counters."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def spread(values):
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")


def p90(values, min_beyond=10):
    """90th percentile, or None unless at least `min_beyond` samples lie
    beyond it (a p90 over a handful of samples is its maximum)."""
    if len(values) < 2:
        return None
    cut = statistics.quantiles(values, n=10)[8]
    return cut if sum(v > cut for v in values) >= min_beyond else None


def per_op(samples, key):
    by = {}
    for s in samples:
        by.setdefault(s["op"], []).append(s[key])
    return {op: median(v) for op, v in by.items()}


def run_total(samples, key):
    """One run of the workload = every op once: the sum of per-op medians
    over the window's runs."""
    return sum(per_op(samples, key).values())


def heap_high_water(after_gc, per_call_max):
    """90th percentile of the heap in use right after each GC during the
    timed calls: a high-water mark that one early or late collection cannot
    move. With fewer than ten collections, the largest per-call value."""
    if len(after_gc) >= 10:
        return statistics.quantiles(after_gc, n=10)[8]
    return max(per_call_max)


def end_to_end(result):
    samples = [s for s in result["samples"] if not s.get("error")]
    wall = run_total(samples, "wall_s")
    setup = result["setup"]
    return {
        "rows_per_s": (result["input_rows"] / wall, "rows/s"),
        "query_p50_s": (median(list(per_op(samples, "wall_s").values())), "s"),
        "cpu_s": (run_total(samples, "cpu_s"), "s"),
        "peak_heap_mb": (heap_high_water(result.get("gc_heap_mb") or [],
                                         [s["heap_mb"] for s in samples]), "MB"),
        "setup_s": (setup["session_ready_s"] + setup["cold_run_s"], "s"),
    }


# ---------------------------------------------------------------- layer table

def self_times(spans):
    """span id -> wall minus the walls of its direct children."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    return {s["id"]: s["wall_s"] - child.get(s["id"], 0.0) for s in spans}


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


LAYER_KEYS = [
    ("spark.plan_s", "s"), ("spark.sql_executions", "count"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.driver_gap_s", "s"),
    ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"), ("spark.exec_gc_s", "s"),
    ("spark.task_deser_s", "s"), ("spark.core_util", "ratio"), ("spark.task_max_s", "s"),
    ("spark.task_skew", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"), ("spark.peak_exec_mem_mb", "MB"),
    ("util.materialized_blocks", "count"), ("util.materialized_bytes", "bytes"),
    ("queries.build_s", "s"), ("queries.action_s", "s"),
    ("etl.parse_validate_s", "s"), ("etl.dedup_write_s", "s"), ("etl.report_s", "s"),
    ("etl.dedup_kept_ratio", "ratio"),
    ("io.read_bytes", "bytes"), ("io.read_rows", "count"), ("io.write_bytes", "bytes"),
    ("io.write_rows", "count"), ("io.write_files", "count"), ("io.out_bytes_per_in_byte", "ratio"),
] + [(f"functions.{k}.rows_per_s", "rows/s") for k in (
    "langid", "shingle", "intersect_merge", "intersect_gallop", "bpe", "pq_argmin",
    "vec_dot", "nearest_vec")] + [
    ("scale.fixed_s", "s"), ("scale.per_krow_ms", "ms"), ("trace.overhead_s", "s"),
    ("trace.wall_s", "s"),
]

# Times that are zero by construction on one of the benchmark's workloads
# (the etl writes on the query workloads, query build/action on etl_ads, and
# shuffle fetch waits, which local mode never has): they stay in the run
# record and the printed table, not in the result line, where a time that
# reads the same on every run would look like a fixed number.
RECORD_ONLY = {"etl.parse_validate_s", "etl.dedup_write_s", "etl.report_s",
               "queries.build_s", "queries.action_s", "spark.shuffle_fetch_wait_s"}

# listener counter -> layer metric: summed over a call's spans (_SUMS) or max (_MAXES)
_SUMS = {
    "jobs": "spark.jobs", "stages": "spark.stages", "tasks": "spark.tasks",
    "exec_run_s": "spark.exec_run_s", "exec_cpu_s": "spark.exec_cpu_s",
    "exec_gc_s": "spark.exec_gc_s", "task_deser_s": "spark.task_deser_s",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "shuffle_fetch_wait_s": "spark.shuffle_fetch_wait_s", "spill_bytes": "spark.spill_bytes",
    "materialized_blocks": "util.materialized_blocks",
    "materialized_bytes": "util.materialized_bytes",
    "read_bytes": "io.read_bytes", "read_rows": "io.read_rows",
    "write_bytes": "io.write_bytes", "write_rows": "io.write_rows",
}
_MAXES = {"task_max_s": "spark.task_max_s", "task_skew": "spark.task_skew",
          "peak_exec_mem_mb": "spark.peak_exec_mem_mb"}
_FORMATS = {"JSON": "etl.parse_validate_s", "Parquet": "etl.dedup_write_s", "CSV": "etl.report_s"}


def op_table(trace, run_id, nproc):
    """Per-op rows of the layer table for one traced pass: wall, self time
    of each span, and the op subtree's counters."""
    spans = trace["spans"]
    selfs = self_times(spans)
    counters = {int(k): v for k, v in trace["counters"].items()}
    rows = []
    for op in (s for s in spans if s["run"] == run_id and s["parent"] == -1):
        ids = subtree(spans, op["id"])
        row = {"op": op["name"][3:], "wall_s": op["wall_s"],
               "self_s": {s["name"]: 0.0 for s in spans if s["id"] in ids}}
        for s in spans:
            if s["id"] in ids:
                row["self_s"][s["name"]] += selfs[s["id"]]
        for key, metric in _SUMS.items():
            row[metric] = sum(counters.get(i, {}).get(key, 0) for i in ids)
        for key, metric in _MAXES.items():
            row[metric] = max([counters.get(i, {}).get(key, 0) for i in ids] or [0])
        intervals = [iv for i in ids for iv in counters.get(i, {}).get("job_intervals", [])]
        row["spark.driver_gap_s"] = (op["w1"] - op["w0"] - union_ms(intervals, op["w0"], op["w1"])) / 1e3
        row["spark.plan_s"] = sum(p["plan_s"] for p in trace["plans"] if p["span"] in ids)
        row["spark.sql_executions"] = sum(1 for e in trace["execs"] if e["span"] in ids)
        for fmt, metric in _FORMATS.items():
            row[metric] = sum(e["wall_s"] for e in trace["execs"] if e["span"] in ids and e["format"] == fmt)
        row["queries.build_s"] = sum(s["wall_s"] for s in spans if s["id"] in ids and s["name"] == "queries.build")
        row["queries.action_s"] = sum(s["wall_s"] for s in spans if s["id"] in ids and s["name"] == "queries.action")
        row["spark.core_util"] = row["spark.exec_run_s"] / (op["wall_s"] * nproc) if op["wall_s"] else 0.0
        rows.append(row)
    return rows


def scale_fit(full_s, full_rows, quarter_s, quarter_rows):
    """Two-point fit of wall = fixed + per_row * rows."""
    if full_rows == quarter_rows:
        return 0.0, 0.0
    per_row = (full_s - quarter_s) / (full_rows - quarter_rows)
    return full_s - per_row * full_rows, per_row * 1000 * 1000  # s, ms per 1000 rows


def per_layer(result, expect=None):
    """The per-layer metrics of a traced run, as {name: (value, unit)}, plus
    the per-op table and the scale fit per op."""
    trace, nproc = result["trace"], result["nproc"]
    rows = op_table(trace, "traced", nproc)
    quarter = {r["op"]: r for r in op_table(trace, "quarter", nproc)}
    wall = sum(r["wall_s"] for r in rows)
    m = {}
    for key in list(_SUMS.values()) + ["spark.driver_gap_s", "spark.plan_s", "spark.sql_executions",
                                       "queries.build_s", "queries.action_s"] + list(_FORMATS.values()):
        m[key] = sum(r[key] for r in rows)
    for key in _MAXES.values():
        m[key] = max([r[key] for r in rows] or [0])
    m["spark.core_util"] = m["spark.exec_run_s"] / (wall * nproc) if wall else 0.0
    runs = result.get("runs") or []
    last = runs[-1] if runs else {}
    m["io.write_files"] = last.get("out_files", 0)
    m["io.out_bytes_per_in_byte"] = last.get("out_bytes", 0) / result["input_bytes"] if last else 0.0
    m["etl.dedup_kept_ratio"] = expect["curated"] / expect["valid"] if expect else 0.0
    for k, v in trace["kernels"].items():
        m[f"functions.{k}.rows_per_s"] = v
    scale = {}
    q_rows, f_rows = trace["input_rows"]["quarter"], trace["input_rows"]["traced"]
    if quarter:
        for r in rows:
            if r["op"] in quarter:
                scale[r["op"]] = scale_fit(r["wall_s"], f_rows, quarter[r["op"]]["wall_s"], q_rows)
        m["scale.fixed_s"], m["scale.per_krow_ms"] = scale_fit(
            wall, f_rows, sum(r["wall_s"] for r in quarter.values()), q_rows)
    else:
        m["scale.fixed_s"] = m["scale.per_krow_ms"] = 0.0
    untraced = run_total([s for s in result["samples"] if not s.get("error")], "wall_s")
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - untraced
    units = dict(LAYER_KEYS)
    return {k: (float(m.get(k, 0.0)), units[k]) for k, _ in LAYER_KEYS}, rows, scale
