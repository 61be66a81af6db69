"""Derives the benchmark's metrics from the JVM program's raw dump.

Pure functions over plain data, so they can be tested without Spark:
percentiles, attribution of fed chunks to micro-batches, span self time,
and the end-to-end / per-layer metric sets.
"""
import bisect
import math
import statistics

E2E_UNITS = {"setup_s": "s", "throughput_rows_s": "rows/s",
             "latency_p50_ms": "ms", "latency_p95_ms": "ms"}
STREAM_QUERIES = {"stream_rules": ["filter", "transform"],
                  "stream_state": ["analytic", "window", "cep"]}
STATE_QUERIES = STREAM_QUERIES["stream_state"]
BATCH_QUERIES = ["q_agg_basic", "q_join_multi_agg", "q_topk", "q_window_session",
                 "q_window_counting", "q_lag", "q_cep_pattern", "q_dedup_keep_sigs"]
STATE_FIELDS = [("rows_total", "count"), ("memory_mb", "MB"), ("rows_updated", "count"),
                ("update_ms", "ms"), ("remove_ms", "ms"), ("commit_ms", "ms"),
                ("rows_dropped_late", "count")]


def per_layer_units():
    """Every per-layer metric name with its unit, in a fixed order."""
    u = {"sql.parse_ms": "ms", "plan.build_ms": "ms", "plan.eager_jobs": "count",
         "plan.eager_task_ms": "ms"}
    for q in BATCH_QUERIES:
        u[f"plan.{q}.build_ms"] = "ms"
        u[f"plan.{q}.eager_jobs"] = "count"
    u.update({"catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
              "catalyst.planning_ms": "ms",
              "exec.ms": "ms", "exec.jobs": "count", "exec.tasks": "count", "exec.task_ms": "ms",
              "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.shuffle_write_mb": "MB",
              "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.failed_tasks": "count",
              "exec.busy_frac": "frac",
              "stream.batches": "count", "stream.rows_per_batch_p50": "rows",
              "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
              "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
              "stream.query_planning_ms": "ms", "stream.latest_offset_ms": "ms",
              "stream.log_io_frac": "frac", "stream.nodata_batch_frac": "frac"})
    for q in STATE_QUERIES:
        for f, unit in STATE_FIELDS:
            u[f"state.{q}.{f}"] = unit
    u.update({"state_mb": "MB", "gen.late_ms_p95": "ms", "gen.backlog_rows_end": "rows",
              "sink.rows_out": "rows", "trace.overhead_frac": "frac"})
    return u


# ------------------------------------------------------------------ math

def percentile(values, pct, weights=None):
    """Linear-interpolated percentile (numpy's default), optionally with
    integer weights: a value of weight w counts as w equal samples."""
    if weights is None:
        weights = [1] * len(values)
    pairs = sorted((v, w) for v, w in zip(values, weights) if w > 0)
    n = sum(w for _, w in pairs)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = pct / 100.0 * (n - 1)
    lo, hi = math.floor(rank), math.ceil(rank)

    def at(r):
        seen = 0
        for v, w in pairs:
            seen += w
            if r < seen:
                return v
        return pairs[-1][0]

    a, b = at(lo), at(hi)
    return a + (b - a) * (rank - lo)


def median(values):
    return percentile(values, 50) if values else 0.0


def quartile_spread(values):
    """(Q3 - Q1) / median, with the quartiles of statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def supports(n, pct):
    """True when at least ten samples lie beyond the percentile."""
    return n * (1 - pct / 100.0) >= 10


# --------------------------------------------------------- attribution

def batch_of_offsets(batches):
    """Returns f(offset) -> the batch whose offset range (start, end]
    contains it, or None. Batches without input are ignored."""
    ranges = sorted((b["end"], b["start"], i) for i, b in enumerate(batches)
                    if b["end"] > b["start"])
    ends = [r[0] for r in ranges]

    def find(offset):
        i = bisect.bisect_left(ends, offset)
        if i < len(ranges) and ranges[i][1] < offset <= ranges[i][0]:
            return batches[ranges[i][2]]
        return None
    return find


def completion_ms(batch):
    return batch["ts_ms"] + batch["dur"].get("triggerExecution", 0)


def row_latencies(chunks, batches, phase="open"):
    """Per-row latency samples of the chunks of one phase: (latency ms,
    rows) from each chunk's scheduled send time to the completion of the
    micro-batch that consumed its offset."""
    find = batch_of_offsets(batches)
    out = []
    for c in chunks:
        if c["phase"] != phase:
            continue
        b = find(c["offset"])
        if b is None:
            raise ValueError(f"offset {c['offset']} was consumed by no micro-batch")
        out.append((completion_ms(b) - c["sched"], c["rows"]))
    return out


def backlog_rows(chunks, batches, at_ms):
    """Rows sent by `at_ms` whose micro-batch had not completed by then."""
    done = max([b["end"] for b in batches if completion_ms(b) <= at_ms] + [-1])
    return sum(c["rows"] for c in chunks if c["sent"] <= at_ms and c["offset"] > done)


def open_loop_problems(part, chunk_rows):
    """Why the open-loop latencies of a streams part would not measure the
    engine, one line per query and cause; empty when they are valid. The
    generator is late when its sends run, at p95, more than one tick behind
    schedule; the engine fell behind the fixed rate when the rows sent but
    not completed at the end of the open loop exceed one closed-loop chunk."""
    out = []
    for q in part["queries"]:
        late = [c["sent"] - c["sched"] for c in q["chunks"] if c["phase"] == "open"]
        if late and percentile(late, 95) > q["tick_ms"]:
            out.append(f"{q['name']}: generator p95 lateness {percentile(late, 95):.1f} ms "
                       f"> one tick ({q['tick_ms']} ms)")
        backlog = backlog_rows(q["chunks"], q["batches"], q["open_end"])
        if backlog > chunk_rows:
            out.append(f"{q['name']}: backlog {backlog} rows at the end of the open loop "
                       f"> one chunk ({chunk_rows} rows)")
    return out


def phase_batches(chunks, batches, phase):
    """Batches whose last consumed chunk belongs to `phase`; a batch with no
    input belongs to the phase of the batch before it."""
    phase_of = {c["offset"]: c["phase"] for c in chunks}
    out, last = [], None
    for b in sorted(batches, key=lambda b: b["batch"]):
        if b["end"] > b["start"]:
            last = phase_of.get(b["end"])
        if last == phase:
            out.append(b)
    return out


# ---------------------------------------------------------------- spans

def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def job_spans(spans, jobs):
    """Adds one span per Spark job (and per stage under it) below the span
    its `perfbench.op` names: build:<op> -> plan.build, exec:<op> -> exec."""
    by_key = {(s["op"], s["name"]): s["id"] for s in spans}
    out = list(spans)
    next_id = max([s["id"] for s in spans] + [0]) + 1
    for j in jobs:
        kind, _, op = (j["op"] or "").partition(":")
        parent = by_key.get((op, {"build": "plan.build", "exec": "exec"}.get(kind, "")))
        if parent is None:
            continue
        jid = next_id
        out.append({"id": jid, "parent": parent, "op": op, "name": "job",
                    "start": j["start"], "end": j["end"]})
        next_id += 1
        for st in j["stages"]:
            out.append({"id": next_id, "parent": jid, "op": op, "name": "stage",
                        "start": st["start"], "end": st["end"]})
            next_id += 1
    return out


# ---------------------------------------------------------- e2e metrics

def stream_e2e(part):
    """Closed-loop throughput, in which each chunk costs its query's median
    chunk time so that one stalled chunk does not move the figure, and the
    per-row latency percentiles of each query, averaged over the queries
    (pooling rows of queries with different latencies would make the pooled
    median jump between them)."""
    qs = part["queries"]
    closed_rows = sum(c["rows"] for q in qs for c in q["chunks"] if c["phase"] == "closed")
    closed_s = sum(len(q["closed_ms"]) * median(q["closed_ms"]) for q in qs) / 1000.0
    p50, p95, counts = [], [], []
    for q in qs:
        lat = row_latencies(q["chunks"], q["batches"])
        vals, wts = [v for v, _ in lat], [w for _, w in lat]
        p50.append(percentile(vals, 50, wts))
        p95.append(percentile(vals, 95, wts))
        counts.append(sum(wts))
    return {"throughput_rows_s": closed_rows / closed_s,
            "latency_p50_ms": sum(p50) / len(p50),
            "latency_p95_ms": sum(p95) / len(p95)}, min(counts)


def batch_e2e(part):
    passes = part["passes"]
    lat = [op["ms"] for p in passes for op in p["ops"]]
    wall_s = median([p["wall_ms"] for p in passes]) / 1000.0
    return {"throughput_rows_s": part["input_rows_per_pass"] / wall_s,
            "latency_p50_ms": percentile(lat, 50),
            "latency_p95_ms": percentile(lat, 95)}, len(lat)


def breakdown(raw, workload):
    """Per-query (streams) or per-pass (batch) figures behind the end-to-end
    metrics of the untraced part, for the run's log."""
    p = raw["parts"]["untraced"]
    if workload in STREAM_QUERIES:
        out = {}
        for q in p["queries"]:
            lat = row_latencies(q["chunks"], q["batches"])
            late = [c["sent"] - c["sched"] for c in q["chunks"] if c["phase"] == "open"]
            out[q["name"]] = {"closed_chunk_ms": round(median(q["closed_ms"]), 1),
                              "latency_p50_ms": round(percentile([v for v, _ in lat], 50,
                                                                 [w for _, w in lat]), 1),
                              "late_ms_p95": round(percentile(late, 95), 1),
                              "backlog_rows_end": backlog_rows(q["chunks"], q["batches"],
                                                               q["open_end"])}
        return out
    return {"pass_s": [round(x["wall_ms"] / 1000.0, 2) for x in p["passes"]]}


def span_self_times(part):
    """Total and self time per span name over a traced part, with Spark
    jobs and stages placed below the layer span that launched them."""
    spans = job_spans(part["spans"], part["jobs"])
    own = self_times(spans)
    out = {}
    for s in spans:
        t = out.setdefault(s["name"], [0.0, 0.0])
        t[0] += s["end"] - s["start"]
        t[1] += own[s["id"]]
    return {k: {"total_ms": round(a, 1), "self_ms": round(b, 1)} for k, (a, b) in out.items()}


def e2e(raw, workload, part="untraced"):
    p = raw["parts"][part]
    m, n = (stream_e2e(p) if workload in STREAM_QUERIES else batch_e2e(p))
    m["setup_s"] = raw["setup_s"]
    return m, n


# ---------------------------------------------------- per-layer metrics

def _sum_jobs(jobs):
    keys = ["tasks", "failed_tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes"]
    s = {k: sum(j[k] for j in jobs) for k in keys}
    s["jobs"] = len(jobs)
    s["ms"] = sum(j["end"] - j["start"] for j in jobs)
    return s


def _exec_metrics(s, exec_ms, cores):
    mb = 1024.0 * 1024.0
    return {"exec.ms": exec_ms, "exec.jobs": s["jobs"], "exec.tasks": s["tasks"],
            "exec.task_ms": s["task_ms"], "exec.cpu_ms": s["cpu_ms"], "exec.gc_ms": s["gc_ms"],
            "exec.shuffle_write_mb": s["shuffle_write_bytes"] / mb,
            "exec.shuffle_read_mb": s["shuffle_read_bytes"] / mb,
            "exec.spill_mb": s["spill_bytes"] / mb, "exec.failed_tasks": s["failed_tasks"],
            "exec.busy_frac": s["task_ms"] / (exec_ms * cores) if exec_ms > 0 else 0.0}


def batch_layers(part, cores):
    jobs = part["jobs"]
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append(j)
    per_pass, per_query = [], {}
    for p in part["passes"]:
        agg = {"parse": 0.0, "build": 0.0, "an": 0.0, "opt": 0.0, "plan": 0.0, "exec": 0.0,
               "eager_jobs": 0, "eager_task_ms": 0.0, "rows": 0}
        ex_jobs = []
        for op in p["ops"]:
            oid = f"{op['q']}#{p['pass']}"
            build = op.get("build_wall_ms", 0.0) - op.get("parse_ms", 0.0) - op.get("analysis_ms", 0.0)
            eager = by_op.get(f"build:{oid}", [])
            agg["parse"] += op.get("parse_ms", 0.0)
            agg["build"] += build
            agg["an"] += op.get("analysis_ms", 0.0)
            agg["opt"] += op.get("optimization_ms", 0.0)
            agg["plan"] += op.get("planning_ms", 0.0)
            agg["exec"] += (op.get("exec_wall_ms", 0.0) - op.get("optimization_ms", 0.0)
                            - op.get("planning_ms", 0.0))
            agg["eager_jobs"] += len(eager)
            agg["eager_task_ms"] += sum(j["task_ms"] for j in eager)
            agg["rows"] += op["rows"]
            ex_jobs += by_op.get(f"exec:{oid}", [])
            per_query.setdefault(op["q"], []).append((build, len(eager)))
        agg["jobs"] = _sum_jobs(ex_jobs)
        per_pass.append(agg)

    def med(key):
        return median([a[key] for a in per_pass])
    # counts come from the first traced pass: every pass does the same work
    first = per_pass[0]
    m = {"sql.parse_ms": med("parse"), "plan.build_ms": med("build"),
         "plan.eager_jobs": first["eager_jobs"], "plan.eager_task_ms": med("eager_task_ms"),
         "catalyst.analysis_ms": med("an"), "catalyst.optimization_ms": med("opt"),
         "catalyst.planning_ms": med("plan"), "sink.rows_out": first["rows"]}
    for q, xs in per_query.items():
        m[f"plan.{q}.build_ms"] = median([b for b, _ in xs])
        m[f"plan.{q}.eager_jobs"] = xs[0][1]
    ex = first["jobs"]
    for k in ["task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes"]:
        ex[k] = median([a["jobs"][k] for a in per_pass])
    m.update(_exec_metrics(ex, med("exec"), cores))
    return m


def stream_layers(part, cores):
    jobs = part["jobs"]
    m = {"sql.parse_ms": 0.0, "plan.build_ms": 0.0, "plan.eager_jobs": 0,
         "plan.eager_task_ms": 0.0, "catalyst.analysis_ms": 0.0, "state_mb": 0.0,
         "gen.backlog_rows_end": 0, "sink.rows_out": 0}
    closed, all_batches, opt, plan, late, ex_jobs = [], [], [], [], [], []
    for q in part["queries"]:
        name = q["name"]
        m["sql.parse_ms"] += q["parse_ms"]
        m["plan.build_ms"] += q["build_ms"] - q["parse_ms"] - q["analysis_ms"]
        m["catalyst.analysis_ms"] += q["analysis_ms"]
        eager = [j for j in jobs if j["op"] == f"build:stream:{name}"]
        m["plan.eager_jobs"] += len(eager)
        m["plan.eager_task_ms"] += sum(j["task_ms"] for j in eager)
        cb = phase_batches(q["chunks"], q["batches"], "closed")
        closed += cb
        all_batches += q["batches"]
        ids = {str(b["batch"]) for b in cb}
        ex_jobs += [j for j in jobs if j["op"] == f"stream:{name}" and j["batch"] in ids]
        opt += [c.get("optimization", 0) for c in q["catalyst"]]
        plan += [c.get("planning", 0) for c in q["catalyst"]]
        late += [c["sent"] - c["sched"] for c in q["chunks"] if c["phase"] == "open"]
        m["gen.backlog_rows_end"] += backlog_rows(q["chunks"], q["batches"], q["open_end"])
        m["sink.rows_out"] += q["sink_rows"]
        if name in STATE_QUERIES:
            ops = [b["state"] for b in cb]
            end = ops[-1] if ops else []
            mb = sum(s["memory_bytes"] for s in end) / (1024.0 * 1024.0)
            m["state_mb"] += mb
            m[f"state.{name}.rows_total"] = sum(s["rows_total"] for s in end)
            m[f"state.{name}.memory_mb"] = mb
            for f, key in [("rows_updated", "rows_updated"), ("update_ms", "update_ms"),
                           ("remove_ms", "remove_ms"), ("commit_ms", "commit_ms"),
                           ("rows_dropped_late", "dropped_late")]:
                m[f"state.{name}.{f}"] = sum(s[key] for st in ops for s in st)
    m["catalyst.optimization_ms"] = median(opt)
    m["catalyst.planning_ms"] = median(plan)

    def dur(b, k):
        return b["dur"].get(k, 0)
    data = [b for b in closed if b["rows"] > 0]
    m["stream.batches"] = len(closed)
    m["stream.rows_per_batch_p50"] = median([b["rows"] for b in data])
    for name, key in [("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                      ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                      ("query_planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset")]:
        m[f"stream.{name}"] = median([dur(b, key) for b in data])
    trig = sum(dur(b, "triggerExecution") for b in data)
    m["stream.log_io_frac"] = (sum(dur(b, "walCommit") + dur(b, "commitOffsets") for b in data)
                               / trig if trig else 0.0)
    m["stream.nodata_batch_frac"] = (sum(1 for b in all_batches if b["rows"] == 0)
                                     / len(all_batches) if all_batches else 0.0)
    m["gen.late_ms_p95"] = percentile(late, 95) if late else 0.0
    s = _sum_jobs(ex_jobs)
    m.update(_exec_metrics(s, s["ms"], cores))
    return m


def layers(raw, workload):
    part = raw["parts"]["traced"]
    cores = raw["cores"]
    m = {k: 0 for k in per_layer_units()}
    m.update(stream_layers(part, cores) if workload in STREAM_QUERIES
             else batch_layers(part, cores))
    untraced, _ = e2e(raw, workload, "untraced")
    tr, _ = e2e(raw, workload, "traced")
    m["trace.overhead_frac"] = tr["latency_p50_ms"] / untraced["latency_p50_ms"] - 1.0
    return m


if __name__ == "__main__":
    # python3 perfbench/metrics.py RESULTS...: median and quartile spread of
    # each metric over result lines (the last JSON line of each run's output)
    import json
    import sys
    vals = {}
    for path in sys.argv[1:]:
        for line in open(path):
            if line.lstrip().startswith("{"):
                for k, m in json.loads(line)["metrics"].items():
                    vals.setdefault(k, []).append(m["value"])
    for k, v in vals.items():
        if len(v) >= 2:
            print(f"{k}: n={len(v)} median={median(v):.6g} spread={quartile_spread(v):.3f}")
