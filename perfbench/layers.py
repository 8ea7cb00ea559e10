"""Per-layer metrics of a traced run, aggregated from its trace file.

The trace holds one JSON object per line: harness spans (run, pass, op,
phase, call), Spark jobs placed under the innermost harness span whose
window holds their start, the stages each job ran, and one record per
QueryExecution with its Catalyst phase times. Counts and times are summed
over the timed operations and divided by the number of timed passes, so
every value reads "per pass" (a sweep of the query list, or one civic
batch).
"""
import json
import statistics


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def aggregate(path, cores):
    spans, jobs, stages, plans = {}, [], [], []
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            k = r["kind"]
            if k == "job":
                jobs.append(r)
            elif k == "stage":
                stages.append(r)
            elif k == "plan":
                plans.append(r)
            else:
                spans[r["id"]] = r

    def chain(r):
        out, p = [], r.get("parent")
        while p:
            out.append(spans[p])
            p = spans[p].get("parent")
        return out

    ops = {s["op"]: s for s in spans.values() if s["kind"] == "op"}
    timed_ops = {n for n, s in ops.items() if s.get("timed") is True}
    passes = [s for s in spans.values() if s["kind"] == "pass" and s.get("timed") is True]
    n = float(len(passes)) or 1.0

    unattributed = 0
    for j in jobs:
        op = ops.get(j["op"])
        if op is None or not (op["start_ms"] <= j["start_ms"] and 0 <= j["end_ms"] <= op["end_ms"]):
            unattributed += 1

    tj = [j for j in jobs if j["op"] in timed_ops]
    tj_ids = {j["id"] for j in tj}
    anc = {j["id"]: chain(j) for j in tj}
    ts = [s for s in stages if s["parent"] in tj_ids]
    stage_of = {}
    for s in ts:
        stage_of.setdefault(s["parent"], []).append(s)

    def under(j, kind, name):
        return any(a["kind"] == kind and a["name"] == name for a in anc[j["id"]])

    def ssum(field, sel=ts):
        return sum(s[field] for s in sel)

    phases = [s for s in spans.values() if s["kind"] == "phase" and s["op"] in timed_ops]
    anc_ids = {j: {a["id"] for a in chain_} for j, chain_ in anc.items()}
    gap_ms = 0
    for ph in phases:
        inside = [(max(j["start_ms"], ph["start_ms"]), min(j["end_ms"], ph["end_ms"]))
                  for j in tj if ph["id"] in anc_ids[j["id"]]]
        gap_ms += (ph["end_ms"] - ph["start_ms"]) - _union_ms([i for i in inside if i[1] > i[0]])
    span_ms = sum(_union_ms([(j["start_ms"], j["end_ms"]) for j in tj if j["op"] == o])
                  for o in timed_ops)
    run_ms = ssum("run_ms")
    pin = [j for j in tj if "Pin.scala" in j["name"]]
    build = [s for s in phases if s["name"] == "build"]
    ingest_jobs = [j for j in tj if under(j, "call", "ingest")]
    written = sum(s["output_bytes"] for j in ingest_jobs for s in stage_of.get(j["id"], []))
    source = sum(ops[o].get("source_bytes", 0) for o in timed_ops)
    tplans = [p for p in plans if p["op"] in timed_ops]
    lsh = sum(p.get("lsh_buckets", 0) for p in passes)
    lsh_over = sum(p.get("lsh_over_cap", 0) for p in passes)

    # the live tables after each timed batch
    last_batch = []
    for p in passes:
        batches = [s for s in spans.values() if s["kind"] == "op" and s.get("parent") == p["id"]
                   and "table_bytes" in s]
        if batches:
            last_batch.append(max(batches, key=lambda s: s["start_ms"]))
    run = next(s for s in spans.values() if s["kind"] == "run")

    def mean(xs):
        return statistics.mean(xs) if xs else 0.0

    mb = 1e6
    return {
        "queries.build_s": sum(s["dur_s"] for s in build) / n,
        "queries.eager_jobs": sum(1 for j in tj if under(j, "phase", "build")) / n,
        "plans.analysis_s": sum(p["analysis_ms"] for p in tplans) / 1e3 / n,
        "plans.optimization_s": sum(p["optimization_ms"] for p in tplans) / 1e3 / n,
        "plans.planning_s": sum(p["planning_ms"] for p in tplans) / 1e3 / n,
        "plans.executions": len(tplans) / n,
        "driver.gap_s": gap_ms / 1e3 / n,
        "driver.codegen_compiles": sum(ops[o].get("codegen_compiles", 0) for o in timed_ops) / n,
        "driver.codegen_s": sum(ops[o].get("codegen_ns", 0) for o in timed_ops) / 1e9 / n,
        "ops.pin_jobs": len(pin) / n,
        "ops.pin_s": sum(j["end_ms"] - j["start_ms"] for j in pin) / 1e3 / n,
        "ops.pinned_rdds": mean([p.get("pinned_rdds", 0) for p in passes]),
        "ops.pinned_mb": mean([p.get("pinned_bytes", 0) for p in passes]) / mb,
        "ops.lsh_buckets": lsh / n,
        "ops.lsh_over_cap_ratio": lsh_over / lsh if lsh else 0.0,
        "exec.jobs": len(tj) / n,
        "exec.stages": len(ts) / n,
        "exec.tasks": ssum("tasks") / n,
        "exec.sched_wait_s": sum(s["first_launch_ms"] - s["start_ms"] for s in ts) / 1e3 / n,
        "exec.job_span_s": span_ms / 1e3 / n,
        "exec.task_run_s": run_ms / 1e3 / n,
        "exec.task_cpu_s": ssum("cpu_ns") / 1e9 / n,
        "exec.gc_s": ssum("gc_ms") / 1e3 / n,
        "exec.busy_ratio": run_ms / (span_ms * cores) if span_ms else 0.0,
        "exec.shuffle_read_mb": ssum("shuffle_read") / mb / n,
        "exec.shuffle_write_mb": ssum("shuffle_write") / mb / n,
        "exec.spill_mb": ssum("spill") / mb / n,
        "exec.failed_tasks": ssum("failed_tasks") / n,
        "sources.input_mb": ssum("input_bytes") / mb / n,
        "sources.input_rows": ssum("input_rows") / n,
        "pipelines.votes_resolved_ratio": float(run.get("votes_resolved_ratio", 0.0)),
        "pipelines.votes_correct_ratio": float(run.get("votes_correct_ratio", 0.0)),
        "warehouse.ingest_jobs": len(ingest_jobs) / n,
        "warehouse.written_mb": written / mb / n,
        "warehouse.write_amp": written / source if source else 0.0,
        "warehouse.table_mb": mean([s["table_bytes"] for s in last_batch]) / mb,
        "warehouse.table_files": mean([s["table_files"] for s in last_batch]),
        "trace.unattributed_jobs": float(unattributed),
    }
