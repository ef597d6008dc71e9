"""Metric arithmetic of the benchmark: percentiles, span self time, and the
roll-up of traced spans and Spark stage metrics into per-layer metrics."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest whole percentile with at least ten samples beyond it.

    Percentiles use the nearest-rank rule: the p-th percentile of n sorted
    samples is the ceil(p*n/100)-th. Returns (value, p, n); (None, None, n)
    when fewer than eleven samples leave no percentile with ten beyond."""
    n = len(values)
    s = sorted(values)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            return s[rank - 1], p, n
    return None, None, n


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], cursor), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


# The span that owns each layer's time: Parser.parse, Engine.run (+ the
# ordered-view lookup), the served page's planning, and its collect.
SPAN_LAYER = {"aql.parse": "aql.parse_ms", "engine.run": "engine.lower_ms",
              "engine.ordered": "engine.lower_ms", "catalyst.plan": "catalyst.plan_ms",
              "collect": "collect.ms"}

READ_METRICS = [
    "aql.parse_ms", "engine.lower_ms", "engine.lower_jobs", "catalyst.plan_ms",
    "catalyst.exchanges", "catalyst.scans", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.delay_ms", "sched.skew", "scan.files_read", "scan.bytes_read", "scan.rows_read",
    "scan.rows_read_per_row_returned", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.spill_bytes", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "collect.ms",
    "collect.rows", "collect.result_bytes", "server.self_ms", "server.response_bytes"]
WRITE_METRICS = [
    "aql.parse_ms", "engine.lower_ms", "sched.jobs", "sched.tasks", "exec.run_ms",
    "shuffle.write_bytes", "catalog.commit_ms", "catalog.commit_jobs",
    "catalog.files_written", "catalog.bytes_written", "catalog.index_bytes_written",
    "catalog.files_live", "server.self_ms"]
def unit(metric):
    if metric.endswith("ms"):
        return "ms"
    if "bytes" in metric:
        return "bytes"
    if metric.endswith(("skew", "per_row_returned", "frac")):
        return "ratio"
    return "count"


def step_layers(stmt_ids, spans_by_stmt, stages_by_span, jobs_by_span, plans, writes, selfs):
    """Per-layer totals of one step (one or more statements)."""
    m = {k: 0.0 for k in set(READ_METRICS) | set(WRITE_METRICS)}
    skews, rows_returned = [1.0], 0
    for sid in stmt_ids:
        spans = spans_by_stmt.get(sid, [])
        for s in spans:
            if s["name"] in SPAN_LAYER:
                m[SPAN_LAYER[s["name"]]] += selfs[s["id"]]
            njobs = len(jobs_by_span.get(s["id"], []))
            m["sched.jobs"] += njobs
            if s["name"] in ("engine.run", "engine.ordered"):
                m["engine.lower_jobs"] += njobs
            if s["name"] == "engine.run" and sid in writes:
                m["catalog.commit_ms"] += s["end_ms"] - s["start_ms"]
                m["catalog.commit_jobs"] += njobs
            for st in stages_by_span.get(s["id"], []):
                m["sched.stages"] += 1
                m["sched.tasks"] += st["tasks"]
                m["sched.delay_ms"] += st["delay_ms"]
                m["scan.bytes_read"] += st["in_bytes"]
                m["scan.rows_read"] += st["in_records"]
                m["shuffle.write_bytes"] += st["shuffle_write"]
                m["shuffle.read_bytes"] += st["shuffle_read"]
                m["shuffle.spill_bytes"] += st["spill"]
                m["exec.run_ms"] += st["run_ms"]
                m["exec.cpu_ms"] += st["cpu_ms"]
                m["exec.gc_ms"] += st["gc_ms"]
                if s["name"] == "collect":
                    m["collect.result_bytes"] += st["result_bytes"]
                d = st["durations"]
                if len(d) >= 2 and statistics.median(d) > 0:
                    skews.append(max(d) / statistics.median(d))
        p = plans.get(sid)
        if p:
            m["catalyst.exchanges"] += p["exchanges"]
            m["catalyst.scans"] += p["scans"]
            m["scan.files_read"] += p["files_read"]
            rows_returned += p["rows"]
        w = writes.get(sid)
        if w:
            m["catalog.files_written"] += w["files"]
            m["catalog.bytes_written"] += w["bytes"]
            m["catalog.index_bytes_written"] += w["index_bytes"]
            m["catalog.files_live"] = w["files_live"]
    m["collect.rows"] = rows_returned
    m["sched.skew"] = max(skews)
    m["scan.rows_read_per_row_returned"] = m["scan.rows_read"] / max(1, rows_returned)
    return m


def per_layer(raw, read_cls, write_cls):
    """Per-layer metrics of a traced run, as medians over the steps of the
    workload's read classes and write classes. Also returns the largest gap
    between a statement's summed span self times and its traced wall, and
    the number of jobs no span claimed."""
    traced = raw["traced"]
    selfs = self_times(traced["spans"])
    spans_by_stmt, stmt_wall = {}, {}
    for s in traced["spans"]:
        spans_by_stmt.setdefault(s["stmt"], []).append(s)
        if s["name"] == "stmt":
            stmt_wall[s["stmt"]] = s["end_ms"] - s["start_ms"]
    gap = max((abs(sum(selfs[s["id"]] for s in ss) - stmt_wall[sid])
               for sid, ss in spans_by_stmt.items()), default=0.0)
    jobs_by_span = {}
    for j in traced["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j["job"])
    stages_by_span = {}
    for st in traced["stages"]:
        stages_by_span.setdefault(st["span"], []).append(st)
    plans = {p["id"]: p for p in traced["plans"]}
    writes = {w["id"]: w for w in traced["writes"]}

    def by_cls(phase, classes):
        return [s for s in raw[phase]["steps"] if s["cls"] in classes]

    out = {}
    for role, cls, names in (("read", read_cls, READ_METRICS), ("write", write_cls, WRITE_METRICS)):
        steps = by_cls("traced", cls)
        rows = [step_layers(s["stmts"], spans_by_stmt, stages_by_span,
                            jobs_by_span, plans, writes, selfs) for s in steps]
        for name in names:
            out[f"{role}.{name}"] = median([r[name] for r in rows])
        if cls:
            server = median([s["ms"] for s in by_cls("server", cls)])
            inproc = median([s["ms"] for s in by_cls("inproc", cls)])
            out[f"{role}.server.self_ms"] = server - inproc
            if role == "read":
                out["read.server.response_bytes"] = median([s["bytes"] for s in by_cls("server", cls)])
    base = sum(s["ms"] for s in raw["inproc"]["steps"])
    out["trace.overhead_frac"] = (sum(s["ms"] for s in traced["steps"]) - base) / base if base else 0.0
    unattributed = len(jobs_by_span.get(0, []))
    return out, gap, unattributed


PER_LAYER_NAMES = ([f"read.{n}" for n in READ_METRICS] + [f"write.{n}" for n in WRITE_METRICS]
                   + ["trace.overhead_frac"])
