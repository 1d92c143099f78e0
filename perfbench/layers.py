"""Per-layer metrics from a traced run's spans.

The harness writes every span of the run to `trace.json` (see
README.md for the span tree). This module computes each span's self
time, writes it back into the trace, and reduces the traced cycles to
per-layer metrics: each metric is summed over the ops of a cycle (a
ratio is taken from the cycle's sums; a peak takes the cycle's
maximum) and reported as its median over the traced cycles. A metric
the workload cannot produce is None ("absent"), never 0.
"""
import json
import statistics

# per-layer metrics every workload produces: (name, unit). The order is
# the order BENCHMARK.json lists them in.
REPORTED = [
    ("session.build_s", "s"),
    ("functions.codegen_compile_s", "s"),
    ("functions.codegen_compiles", "count"),
    ("sources.bytes_read", "bytes"),
    ("sources.records_read", "count"),
    ("sources.scan_tasks", "count"),
    ("core.plan_s", "s"),
    ("operators.call_s", "s"),
    ("operators.eager_jobs", "count"),
    ("operators.cached_bytes", "bytes"),
    ("operators.store_bytes_written", "bytes"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.driver_gap_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.run_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.slot_util", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.failed_tasks", "count"),
    ("exec.unattributed_jobs", "count"),
    ("trace.overhead_ratio", "ratio"),
]
# printed by the traced run; absent on the workloads that do not
# exercise them, so they are not part of the benchmark's metric list
WORKLOAD_SPECIFIC = [
    ("exec.straggler_ratio", "ratio"),
    ("operators.verify_yield", "ratio"),
    ("operators.store_files_written", "count"),
    ("operators.store_write_amp", "ratio"),
    ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
]


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
        elif e > end:
            total += e - end
        end = max(end, e)
    return total


def self_times(spans):
    """Span duration minus the part of it covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
        s["self"] = (s["end"] - s["start"]) - covered


def compute(res, trace_path, cores):
    with open(trace_path) as f:
        spans = json.load(f)
    self_times(spans)
    with open(trace_path, "w") as f:
        json.dump(spans, f)

    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    session, setup = by_name["session"][0], by_name["setup"][0]
    out = {
        "session.build_s": (session["end"] - session["start"]) / 1e9,
        "functions.codegen_compile_s": setup["attrs"]["codegen_compile_s"],
    }

    jobs_by_op, stages_by_op, triggers_by_op = {}, {}, {}
    for name, bucket in (("job", jobs_by_op), ("stage", stages_by_op),
                         ("trigger", triggers_by_op)):
        for s in by_name.get(name, []):
            bucket.setdefault(s["op"], []).append(s)
    phase_of = {s["id"]: s["name"] for n in ("call", "plan", "exec") for s in by_name.get(n, [])}

    per_cycle = []
    for cyc in by_name.get("cycle", []):
        m = {}
        walls = run_s = 0.0
        peaks = {"operators.cached_bytes": 0, "exec.straggler_ratio": None}
        verify = [0, 0]
        new_bytes = 0
        streaming = False
        for op in (o for o in by_name.get("op", []) if o["parent"] == cyc["id"]):
            oid, a = op["op"], op["attrs"]
            wall = (op["end"] - op["start"]) / 1e9
            walls += wall
            jobs = jobs_by_op.get(oid, [])
            stages = stages_by_op.get(oid, [])
            trig = triggers_by_op.get(oid, [])
            phases = {p["name"]: p for n in ("call", "plan")
                      for p in by_name.get(n, []) if p["op"] == oid}
            sums = {
                "functions.codegen_compiles": a.get("codegen_compiles", 0),
                "sources.bytes_read": sum(s["attrs"]["input_bytes"] for s in stages),
                "sources.records_read": sum(s["attrs"]["input_records"] for s in stages),
                "sources.scan_tasks": sum(s["attrs"]["scan_tasks"] for s in stages),
                "core.plan_s": (phases["plan"]["end"] - phases["plan"]["start"]) / 1e9
                if "plan" in phases else 0.0,
                "operators.call_s": (phases["call"]["end"] - phases["call"]["start"]) / 1e9
                if "call" in phases else 0.0,
                "operators.eager_jobs": sum(1 for j in jobs if phase_of.get(j["parent"]) == "call"),
                "operators.store_bytes_written": sum(s["attrs"]["output_bytes"] for s in stages),
                "operators.store_files_written": a.get("store_files_written", 0),
                "exec.jobs": len(jobs),
                "exec.stages": len(stages),
                "exec.tasks": sum(s["attrs"]["tasks"] for s in stages),
                "exec.driver_gap_s": (op["end"] - op["start"] - union_length(
                    [(j["start"], j["end"]) for j in jobs], op["start"], op["end"])) / 1e9,
                "exec.cpu_s": sum(s["attrs"]["cpu_ns"] for s in stages) / 1e9,
                "exec.run_s": sum(s["attrs"]["run_ms"] for s in stages) / 1e3,
                "exec.gc_s": sum(s["attrs"]["gc_ms"] for s in stages) / 1e3,
                "exec.shuffle_write_bytes": sum(s["attrs"]["shuffle_write_bytes"] for s in stages),
                "exec.shuffle_read_bytes": sum(s["attrs"]["shuffle_read_bytes"] for s in stages),
                "exec.spill_bytes": sum(s["attrs"]["spill_bytes"] for s in stages),
                "exec.failed_tasks": sum(s["attrs"]["failed_tasks"] for s in stages),
                "streaming.trigger_s": sum(t["attrs"]["trigger_ms"] for t in trig) / 1e3,
                "streaming.add_batch_s": sum(t["attrs"]["add_batch_ms"] for t in trig) / 1e3,
                "streaming.wal_commit_s": sum(t["attrs"]["wal_commit_ms"] for t in trig) / 1e3,
            }
            streaming = streaming or bool(trig)
            for k, v in sums.items():
                m[k] = m.get(k, 0) + v
            run_s += sums["exec.run_s"]
            new_bytes += a.get("store_new_bytes", 0)
            peaks["operators.cached_bytes"] = max(peaks["operators.cached_bytes"],
                                                  a.get("cached_bytes", 0))
            for s in stages:
                r = s["attrs"]["straggler_ratio"]
                if r is not None and (peaks["exec.straggler_ratio"] is None
                                      or r > peaks["exec.straggler_ratio"]):
                    peaks["exec.straggler_ratio"] = r
            if "verify_rows_in" in a:
                verify[0] += a["verify_rows_in"]
                verify[1] += a["verify_rows_out"]
        m.update(peaks)
        m["exec.slot_util"] = run_s / (walls * cores) if walls > 0 else None
        m["operators.verify_yield"] = verify[1] / verify[0] if verify[0] else None
        m["operators.store_write_amp"] = (m["operators.store_bytes_written"] / new_bytes
                                          if new_bytes else None)
        if not streaming:
            for k in ("streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s"):
                m[k] = None
        m["exec.unattributed_jobs"] = sum(
            1 for j in jobs_by_op.get("", []) if cyc["start"] <= j["start"] <= cyc["end"])
        per_cycle.append(m)

    names = [k for k, _ in REPORTED + WORKLOAD_SPECIFIC if k not in out]
    for k in names:
        vals = [c[k] for c in per_cycle if c.get(k) is not None]
        out[k] = statistics.median(vals) if vals else None
    # op time only: the traced cycles also drain the listener bus after
    # each op, outside the op's timing
    walls = {True: [], False: []}
    for c in res["cycles"]:
        walls[c["traced"]].append(sum(op["wall_s"] for op in c["ops"]))
    out["trace.overhead_ratio"] = (statistics.median(walls[True]) / statistics.median(walls[False])
                                   if walls[True] and walls[False] else None)
    return {k: out.get(k) for k, _ in REPORTED + WORKLOAD_SPECIFIC}
