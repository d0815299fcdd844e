"""Metric definitions and the arithmetic that turns one harness artifact into
them. Everything here is a pure function of its arguments, so the self-tests
in test_perfbench.py can check it on hand-made records.

Times in artifacts are epoch milliseconds; durations are milliseconds.
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# (name, unit, better, bound). Reported by untraced runs.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.24),
    ("op_tail_s", "s", "lower", 0.24),
    ("ops_per_s", "1/s", "higher", 0.24),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# (name, unit, better, which end-to-end metric it should move, on which
# workload). Reported by traced runs; counts and times are per timed op.
PER_LAYER = [
    ("session.build_ms", "ms", "lower", "setup_s on every workload"),
    ("ops.build_ms", "ms/op", "lower", "ops_per_s and op_p50_s on lake; no change on scan"),
    ("ops.build_jobs", "1/op", "lower", "ops_per_s and op_p50_s on lake; no change on scan"),
    ("ops.build_share", "frac", "lower", "ops_per_s and op_p50_s on lake; no change on scan"),
    ("etl.read_ms", "ms/op", "lower", "ingest_mb_per_s on lake"),
    ("etl.load_ms", "ms/op", "lower", "ingest_mb_per_s on lake"),
    ("etl.rows_loaded", "rows/op", "higher", "ingest_mb_per_s on lake (a fixed count: a change means wrong output)"),
    ("ingest_mb_per_s", "MB/s", "higher", "the ingest rate of lake Tasks A and B, from the untraced passes; 0 on scan"),
    ("catalyst.analysis_ms", "ms/op", "lower", "op_p50_s on scan and lake (plans are rebuilt on every op)"),
    ("catalyst.optimization_ms", "ms/op", "lower", "op_p50_s on scan and lake (plans are rebuilt on every op)"),
    ("catalyst.planning_ms", "ms/op", "lower", "op_p50_s on scan and lake (plans are rebuilt on every op)"),
    ("catalyst.plans", "1/op", "lower", "op_p50_s on scan and lake (plans are rebuilt on every op)"),
    ("scheduler.jobs", "1/op", "lower", "ops_per_s on lake"),
    ("scheduler.stages", "1/op", "lower", "ops_per_s on lake"),
    ("scheduler.tasks", "1/op", "lower", "ops_per_s on lake"),
    ("scheduler.tasks_per_stage", "1/stage", "higher", "ops_per_s on lake"),
    ("scheduler.idle_core_frac", "frac", "lower", "ops_per_s on lake"),
    ("scheduler.failed_tasks", "1/op", "lower", "failed_frac on every workload"),
    ("exec.run_ms", "ms/op", "lower", "ops_per_s and op_tail_s on scan"),
    ("exec.cpu_ms", "ms/op", "lower", "ops_per_s and op_tail_s on scan"),
    ("exec.gc_ms", "ms/op", "lower", "ops_per_s and op_tail_s on scan"),
    ("exec.peak_mem_bytes", "B", "lower", "peak_rss_mb on every workload"),
    ("shuffle.write_bytes", "B/op", "lower", "op_tail_s on scan"),
    ("shuffle.read_bytes", "B/op", "lower", "op_tail_s on scan"),
    ("shuffle.fetch_wait_ms", "ms/op", "lower", "op_tail_s on scan"),
    ("spill.bytes", "B/op", "lower", "op_tail_s on scan"),
    ("io.read_bytes", "B/op", "lower", "ops_per_s on scan"),
    ("io.read_records", "1/op", "lower", "ops_per_s on scan"),
    ("io.rows_read_per_result_row", "ratio", "lower", "ops_per_s on scan"),
    ("io.write_bytes", "B/op", "lower", "ingest_mb_per_s and ops_per_s on lake"),
    ("io.write_records", "1/op", "lower", "ingest_mb_per_s and ops_per_s on lake"),
    ("storage.blocks", "1/op", "lower", "ops_per_s and peak_rss_mb on lake"),
    ("storage.block_bytes", "B/op", "lower", "ops_per_s and peak_rss_mb on lake"),
    ("jvm.driver_gc_ms", "ms/op", "lower", "op_tail_s on every workload"),
    ("jvm.error_log_lines", "1/op", "lower", "failed_frac on every workload"),
    ("trace.overhead_frac", "frac", "lower", "none: the cost of tracing, traced against untraced ops_per_s"),
    ("failed_frac", "frac", "lower", "ops that threw over ops attempted, warm-up included"),
    ("wrong_frac", "frac", "lower", "ops whose output check failed over ops checked"),
]

TAIL_BEYOND = 10


def tail(samples):
    """The value at the highest percentile that has at least TAIL_BEYOND
    samples above it, i.e. the 11th largest. Returns (value, percentile,
    sample count); with too few samples, the maximum and percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    k = n - TAIL_BEYOND - 1
    return s[k], 100.0 * (k + 1) / n, n


def frac(part, whole):
    return part / whole if whole else 0.0


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
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


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its children cover (children clipped to the parent,
    overlapping children counted once). `spans` are dicts with id, parent,
    layer, start, end."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length((max(c["start"], s), min(c["end"], e))
                               for c in children.get(sp["id"], []))
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + (e - s) - covered
    return out


def end_to_end(ops, passes, launched_ms, warm_end_ms, vm_hwm_kb):
    """End-to-end metrics of one untraced run. `ops` are the op records of
    the timed passes; `passes` the pass records; set-up is the time from the
    JVM launch to the end of warm-up, less the warm-up's output checks; op
    latencies and pass walls exclude output checks."""
    lat = [o["latency_ms"] / 1000 for o in ops]
    value, pct, n = tail(lat)
    return {
        "setup_s": (warm_end_ms - launched_ms) / 1000,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": value,
        # median over passes: one pass slowed by a neighbour's burst on a
        # shared host does not move it
        "ops_per_s": statistics.median(
            1000 * p["ops"] / (p["wall_ms"] - p["check_ms"]) for p in passes),
        "peak_rss_mb": vm_hwm_kb / 1024,
    }, {"tail_percentile": pct, "tail_samples": n}


def pass_summary(passes, ops):
    """Every timed pass's own numbers, so drift between passes stays visible."""
    out = []
    for p in passes:
        mine = [o for o in ops if o["pass"] == p["pass"]]
        lat = [o["latency_ms"] / 1000 for o in mine]
        wall = (p["wall_ms"] - p["check_ms"]) / 1000
        out.append({"pass": p["pass"], "traced": p["traced"], "ops": len(lat),
                    "wall_s": wall, "ops_per_s": len(lat) / wall,
                    "op_p50_s": statistics.median(lat) if lat else None,
                    "latency_s": {o["name"]: o["latency_ms"] / 1000 for o in mine}})
    return out


def ops_per_s(passes, traced):
    sel = [p for p in passes if p["traced"] == traced]
    wall = sum(p["wall_ms"] - p["check_ms"] for p in sel)
    return 1000 * sum(p["ops"] for p in sel) / wall if wall else 0.0


def attribute_plans(plans, ops):
    """Assigns each Catalyst QueryExecution to the op whose wall-clock window
    holds its first phase; returns {op id: [plan, ...]}."""
    windows = sorted((o["start"], o["end"], o["id"]) for o in ops)
    out = {}
    for pl in plans:
        starts = [v["start"] for k, v in pl.items() if isinstance(v, dict)]
        if not starts:
            continue
        t = min(starts)
        for s, e, op in windows:
            if s <= t <= e:
                out.setdefault(op, []).append(pl)
                break
    return out


def trace_spans(art, traced_ids):
    """All spans of traced ops: client spans (op, ops.build, action, etl.*),
    one span per job and stage from the listener, and one per Catalyst
    phase, parented to the client span that holds it."""
    client = [dict(s) for s in art["spans"] if s["op"] in traced_ids]
    by_op = {}
    for s in client:
        if s["layer"] != "op":
            by_op.setdefault(s["op"], []).append(s)
    spans = list(client)
    next_id = max([s["id"] for s in art["spans"]] + [0]) + 1
    job_span = {}
    for j in art.get("jobs", []):
        if j["op"] in traced_ids and "end" in j:
            job_span[j["job"]] = next_id
            spans.append({"id": next_id, "parent": j["span"], "layer": "scheduler.job",
                          "op": j["op"], "start": j["start"], "end": j["end"]})
            next_id += 1
    for st in art.get("stages", []):
        if st["job"] in job_span and "start" in st and "end" in st:
            spans.append({"id": next_id, "parent": job_span[st["job"]], "layer": "exec.stage",
                          "op": None, "start": st["start"], "end": st["end"]})
            next_id += 1
    ops = [o for o in art["ops"] if o["id"] in traced_ids]
    for op_id, plans in attribute_plans(art.get("plans", []), ops).items():
        for pl in plans:
            for phase in ("analysis", "optimization", "planning"):
                if phase not in pl:
                    continue
                t = pl[phase]["start"]
                parent = next((s["id"] for s in by_op.get(op_id, [])
                               if s["start"] <= t <= s["end"]), None)
                if parent is not None:
                    spans.append({"id": next_id, "parent": parent, "layer": f"catalyst.{phase}",
                                  "op": op_id, "start": pl[phase]["start"],
                                  "end": pl[phase]["end"]})
                    next_id += 1
    return spans


def per_layer(art, ingest_bytes=0):
    """Per-layer metrics of one traced run (see PER_LAYER), plus the per-key
    numbers and self times that go into the trace only."""
    ops = [o for o in art["ops"] if o["pass"] >= 0]
    traced = [o for o in ops if o["traced"]]
    ids = {o["id"] for o in traced}
    n = len(traced)
    wall = sum(o["latency_ms"] for o in traced)
    jobs = [j for j in art.get("jobs", []) if j["op"] in ids]
    job_op = {j["job"]: j["op"] for j in jobs}
    stages = [s for s in art.get("stages", []) if s["job"] in job_op]
    stage_op = {s["stage"]: job_op[s["job"]] for s in stages}
    blocks = [b for b in art.get("blocks", []) if b["stage"] in stage_op]
    build_spans = {s["id"] for s in art["spans"] if s["layer"] == "ops.build" and s["op"] in ids}
    plans = attribute_plans(art.get("plans", []), traced)
    etl = [o for o in traced if "etl_read_ms" in o]
    untraced_rate = ops_per_s(art["passes"], False)
    traced_rate = ops_per_s(art["passes"], True)
    ingest_ms = sum(o["latency_ms"] for o in ops if not o["traced"] and "etl_read_ms" in o)

    def ssum(field, sel=stages):
        return sum(s.get(field, 0) for s in sel)

    def phase_ms(phase):
        return sum(pl[phase]["end"] - pl[phase]["start"]
                   for pls in plans.values() for pl in pls if phase in pl)

    result_rows = sum(o.get("rows", 0) for o in traced)
    m = {
        "session.build_ms": art["session_build_ms"],
        "ops.build_ms": frac(sum(o.get("build_ms", 0) for o in traced), n),
        "ops.build_jobs": frac(sum(1 for j in jobs if j["span"] in build_spans), n),
        "ops.build_share": frac(sum(o.get("build_ms", 0) for o in traced), wall),
        "etl.read_ms": frac(sum(o["etl_read_ms"] for o in etl), len(etl)),
        "etl.load_ms": frac(sum(o["etl_load_ms"] for o in etl), len(etl)),
        "etl.rows_loaded": frac(sum(o.get("rows", 0) for o in etl), len(etl)),
        "ingest_mb_per_s": frac(ingest_bytes * sum(
            1 for o in ops if not o["traced"] and o["name"] == "etl.covid") / 1e6, ingest_ms / 1000),
        "catalyst.analysis_ms": frac(phase_ms("analysis"), n),
        "catalyst.optimization_ms": frac(phase_ms("optimization"), n),
        "catalyst.planning_ms": frac(phase_ms("planning"), n),
        "catalyst.plans": frac(sum(len(v) for v in plans.values()), n),
        "scheduler.jobs": frac(len(jobs), n),
        "scheduler.stages": frac(len(stages), n),
        "scheduler.tasks": frac(ssum("tasks"), n),
        "scheduler.tasks_per_stage": frac(ssum("tasks"), len(stages)),
        "scheduler.idle_core_frac": 1 - frac(ssum("task_ms"), art["cpus"] * wall),
        "scheduler.failed_tasks": frac(ssum("failed_tasks"), n),
        "exec.run_ms": frac(ssum("run_ms"), n),
        "exec.cpu_ms": frac(ssum("cpu_ns") / 1e6, n),
        "exec.gc_ms": frac(ssum("gc_ms"), n),
        "exec.peak_mem_bytes": max([s.get("peak_mem_bytes", 0) for s in stages] + [0]),
        "shuffle.write_bytes": frac(ssum("shuffle_write_bytes"), n),
        "shuffle.read_bytes": frac(ssum("shuffle_read_bytes"), n),
        "shuffle.fetch_wait_ms": frac(ssum("fetch_wait_ms"), n),
        "spill.bytes": frac(ssum("spill_bytes"), n),
        "io.read_bytes": frac(ssum("read_bytes"), n),
        "io.read_records": frac(ssum("read_records"), n),
        "io.rows_read_per_result_row": frac(ssum("read_records"), result_rows),
        "io.write_bytes": frac(ssum("write_bytes"), n),
        "io.write_records": frac(ssum("write_records"), n),
        "storage.blocks": frac(sum(b["blocks"] for b in blocks), n),
        "storage.block_bytes": frac(sum(b["bytes"] for b in blocks), n),
        "jvm.driver_gc_ms": frac(sum(o["gc_ms"] for o in traced), n),
        "jvm.error_log_lines": frac(sum(o["error_log_lines"] for o in art["ops"])
                                    + art["error_log_lines_outside_ops"], len(art["ops"])),
        "trace.overhead_frac": 1 - frac(traced_rate, untraced_rate) if untraced_rate else 0.0,
    }
    # Per-key numbers and self times: too noisy per run to be metrics.
    per_key = {}
    name_of = {o["id"]: o["name"] for o in traced}
    for o in traced:
        k = per_key.setdefault(o["name"], {"latency_ms": [], "build_ms": [], "jobs": 0,
                                           "build_jobs": 0, "cpu_ms": 0.0, "ops": 0})
        k["ops"] += 1
        k["latency_ms"].append(o["latency_ms"])
        k["build_ms"].append(o.get("build_ms", 0))
    for j in jobs:
        per_key[name_of[j["op"]]]["jobs"] += 1
        per_key[name_of[j["op"]]]["build_jobs"] += j["span"] in build_spans
    for s in stages:
        per_key[name_of[stage_op[s["stage"]]]]["cpu_ms"] += s.get("cpu_ns", 0) / 1e6
    return m, {"per_key": per_key, "self_ms": self_times(trace_spans(art, ids)),
               "ops_per_s_traced": traced_rate, "ops_per_s_untraced": untraced_rate}
