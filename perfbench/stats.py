"""Benchmark math: percentiles with their sample counts, span self time,
driver gaps, parallelism and space amplification, and the per-layer
metrics of a traced run. Times in spans are epoch milliseconds."""
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def percentile(values, p):
    """The p-th percentile (inclusive method) and the sample count."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if len(xs) == 1:
        return xs[0], 1
    if p == 50:
        return statistics.median(xs), len(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo), len(xs)


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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


def clip(interval, within):
    s, e = max(interval[0], within[0]), min(interval[1], within[1])
    return (s, e) if e > s else None


def self_time(span, children):
    """The span's duration minus the part of it its children cover."""
    inside = [c for c in (clip(x, span) for x in children) if c]
    return (span[1] - span[0]) - union_length(inside)


def parallelism(task_ms, busy_intervals):
    """Task time over the wall time during which any job ran."""
    busy = union_length(busy_intervals)
    return task_ms / busy if busy > 0 else 0.0


def space_amp(table_bytes, fresh_bytes):
    """Bytes under a table root over the bytes of one fresh compact write
    of the same rows."""
    if fresh_bytes <= 0:
        raise ValueError("fresh write has no bytes")
    return table_bytes / fresh_bytes


CHECKPOINT_SITES = ("localCheckpoint at", "checkpoint at")
WRITE_TYPES = ("insert", "merge", "update", "delete_mor", "delete_cow", "stream")


def _in_op(op, t):
    # job and stage times are whole milliseconds
    return int(op["start"]) <= t <= op["end"] + 1


def attribute(ops, jobs):
    """Maps op id -> jobs whose start falls inside the op's span. Ops are
    serial, so this also catches jobs from other driver threads."""
    by_op = {op["id"]: [] for op in ops}
    spans = sorted(ops, key=lambda o: o["start"])
    for job in jobs:
        for op in spans:
            if _in_op(op, job["start"]):
                by_op[op["id"]].append(job)
                break
    return by_op


def layer_metrics(ops, trace, n_passes):
    """Per-layer metrics of the traced passes, per pass."""
    jobs = trace["jobs"]
    stages_by_job = {}
    for st in trace["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    by_op = attribute(ops, jobs)
    ids = {op["id"] for op in ops}
    m = {}
    busy, clone_busy = [], []  # job spans inside ops, for parallelism
    rows = []  # (layer, span, children) for the self-time table

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for op in ops:
        span = (op["start"], op["end"])
        bend = op.get("build_end") or op["start"]
        ojobs = by_op[op["id"]]
        jspans = [(j["start"], j["end"]) for j in ojobs]
        ostages = [s for j in ojobs for s in stages_by_job.get(j["id"], [])]
        add("build_s", (bend - op["start"]) / 1000)
        add("action_s", (op["end"] - bend) / 1000)
        add("build_jobs", sum(1 for j in ojobs if j["start"] < bend))
        add("action_jobs", sum(1 for j in ojobs if j["start"] >= bend))
        add("jobs", len(ojobs))
        task_ms = sum(s["task_ms"] for s in ostages)
        add("tasks", sum(s["tasks"] for s in ostages))
        add("task_s", task_ms / 1000)
        busy += [c for c in (clip(x, span) for x in jspans) if c]
        add("gc_s", op.get("gc_ms", 0) / 1000)
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            add(k, sum(s[k] for s in ostages))
        add("scan_input_bytes", sum(s["input_bytes"] for s in ostages))
        add("scan_input_rows", sum(s["input_rows"] for s in ostages))
        add("scan_single_task_stages",
            sum(1 for s in ostages if s["input_bytes"] > 0 and s["tasks"] == 1))
        ck = [j for j in ojobs if j["call_site"].startswith(CHECKPOINT_SITES)]
        add("checkpoint_jobs", len(ck))
        add("checkpoint_job_s", sum(j["end"] - j["start"] for j in ck) / 1000)
        add("driver_gap_s", self_time(span, jspans) / 1000)
        out_bytes = sum(s["output_bytes"] for s in ostages)
        out_rows = sum(s["output_rows"] for s in ostages)
        if op["cls"] == "clone":
            add("clone_jobs", len(ojobs))
            add("clone_task_s", task_ms / 1000)
            add("clone_output_bytes", out_bytes)
            clone_busy += jspans
            add("_clone_rows", op.get("count") or 0)
            add("_clone_ms", op["end"] - op["start"])
        if op["cls"] == "write" and op["name"] in WRITE_TYPES:
            t = op["name"]
            add(f"commit_jobs.{t}", len(ojobs))
            add(f"commit_output_bytes.{t}", out_bytes)
            add(f"commit_files_added.{t}", op.get("files_added", 0))
            add(f"_rows.{t}", out_rows)
        if "files_scanned" in op:
            m["read_files_scanned"] = float(op["files_scanned"])
        rows.append(("op", span, [(op["start"], bend), (bend, op["end"])]))
        rows.append(("build", (op["start"], bend), [s for s in jspans if s[0] < bend]))
        rows.append(("action", (bend, op["end"]), [s for s in jspans if s[0] >= bend]))
        for j in ojobs:
            rows.append(("job", (j["start"], j["end"]),
                         [(s["start"], s["end"]) for s in stages_by_job.get(j["id"], [])
                          if s["start"] is not None and s["end"] is not None]))
        for s in ostages:
            if s["start"] is not None and s["end"] is not None:
                rows.append(("stage", (s["start"], s["end"]), []))

    for sql in trace["sqls"]:
        if sql["op"] in ids:
            add("plan_analysis_s", sql["analysis_ms"] / 1000)
            add("plan_optimization_s", sql["optimization_ms"] / 1000)
            add("plan_physical_s", sql["planning_ms"] / 1000)
    for b in trace["batches"]:
        if b["op"] in ids:
            add("stream_batch_s", b["batch_ms"] / 1000)
            add("stream_rows", b["rows"])

    m["parallelism"] = parallelism(m.get("task_s", 0.0) * 1000, busy)
    m["clone_parallelism"] = parallelism(m.get("clone_task_s", 0.0) * 1000, clone_busy)
    clone_rows, clone_ms = m.pop("_clone_rows", 0.0), m.pop("_clone_ms", 0.0)
    m["clone_rows_per_s"] = clone_rows / (clone_ms / 1000) if clone_ms else 0.0
    for t in WRITE_TYPES:
        r = m.pop(f"_rows.{t}", 0.0)
        m[f"commit_bytes_per_row.{t}"] = m.get(f"commit_output_bytes.{t}", 0.0) / r if r else 0.0
    ratios = {"parallelism", "clone_parallelism", "clone_rows_per_s", "read_files_scanned"}
    ratios |= {f"commit_bytes_per_row.{t}" for t in WRITE_TYPES}
    for k in list(m):
        if k not in ratios:
            m[k] /= n_passes
    return m, self_time_table(rows)


def self_time_table(rows):
    """layer -> (spans, total seconds, self seconds)."""
    out = {}
    for layer, span, children in rows:
        n, tot, own = out.get(layer, (0, 0.0, 0.0))
        out[layer] = (n + 1, tot + (span[1] - span[0]) / 1000,
                      own + self_time(span, children) / 1000)
    return out


def latency_metrics(ops):
    """End-to-end op latencies of the write workload, by op class."""
    def lat(pred):
        return [(o["end"] - o["start"]) / 1000 for o in ops if pred(o)]
    out = {}
    for name, pred in (
            ("commit_p50_s", lambda o: o["cls"] == "write"),
            ("merge_p50_s", lambda o: o["name"] == "merge"),
            ("read_asof_p50_s", lambda o: o["name"] == "read_asof")):
        xs = lat(pred)
        out[name] = (percentile(xs, 50) if xs else (0.0, 0))
    return out
