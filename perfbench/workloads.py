"""Workload definitions, input preparation, output checks and metric
reduction. `run.py` drives these; BENCH.md explains the choices."""
import os
import shutil

import gen
import oracle
import stats

# driver_suite: contract queries with an oracle, spread over the operator
# families, on the driver's correctness scale; planning, job launch and
# driver-side work dominate here.
DRIVER_SUITE = [
    "mr_wordcount", "rel_sql_tpch_q3", "fn_math", "dedup_minhash_pairs",
    "stream_tumbling",
]

STREAM_PIPELINES = ["tumbling", "session", "dedup", "stateful"]

# passes per run: the first `warmup_passes` run the workload's operations
# while the JIT warms and are checked, not timed. On driver_suite the pass
# after the cold one still runs 10-25 % slower than the ones after it, so
# it is a warm-up pass too; counting it would make the median depend on how
# many passes fit the window. The pass counts fit a run in under a minute,
# so that 48 runs and two builds end within the benchmark's time budget.
WORKLOADS = {
    "driver_suite": dict(kind="queries", queries=DRIVER_SUITE, warmup_passes=2,
                         min_timed_passes=2),
    "stream_incremental": dict(kind="stream", increments=2, pipelines=STREAM_PIPELINES,
                               warmup_passes=1, min_timed_passes=2),
}
MAX_PASSES = 6
# the driver's correctness scale
SCALE = 0.01


# ---- inputs -----------------------------------------------------------------

def _fixtures(work, sf):
    """Generated base tables, cached in the work dir (fixed data seed)."""
    d = os.path.join(work, "inputs", f"gen{gen.GEN_VERSION}-sf{sf}")
    if os.path.isfile(os.path.join(d, "_DONE")):
        return d, True
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.make_fixtures(tmp, sf)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, d)
    return d, False


def prepare(wl, seed, work, run_dir):
    data, cached = _fixtures(work, SCALE)
    plan = {"data": data, "scan_tables": ",".join(oracle.TABLES)}
    inputs = {"data": data, "cached": cached, "plan": plan}
    if wl["kind"] == "stream":
        inc_dir = os.path.join(run_dir, "increments")
        names = gen.make_increments(os.path.join(data, "events.parquet"), inc_dir,
                                    wl["increments"], seed)
        plan.update(increments=inc_dir, first_increment=names[0], scan_tables="events")
        inputs.update(increments=names, inc_dir=inc_dir)
    return inputs


def order(wl, rng, inputs):
    """One pass's operations in issue order, permuted by the seed."""
    if wl["kind"] == "queries":
        qs = list(wl["queries"])
        rng.shuffle(qs)
        return qs
    ops = []
    for inc in inputs["increments"]:
        ps = list(wl["pipelines"])
        rng.shuffle(ps)
        ops += [f"{inc}:{p}" for p in ps]
    return ops


# ---- checks -----------------------------------------------------------------

def check(wl, raw, inputs, run_dir):
    """{(pass, op idx): None or failure reason} for every operation."""
    out = os.path.join(run_dir, "out")
    verdicts = {}
    if wl["kind"] == "queries":
        dirs = {}
        for p in raw["passes"]:
            for op in p["ops"]:
                if op["ok"]:
                    d = f"{out}/p{p['pass']}/{op['name']}"
                    dirs.setdefault(op["name"], []).append(d)
        by_dir = oracle.check_queries(inputs["data"], raw["oracles"], dirs,
                                      cache_dir=os.path.join(inputs["data"], "_oracle"))
        for p in raw["passes"]:
            for op in p["ops"]:
                key = (p["pass"], op["idx"])
                verdicts[key] = (by_dir.get(f"{out}/p{p['pass']}/{op['name']}")
                                 if op["ok"] else op["err"] or "failed")
        return verdicts
    for p in raw["passes"]:
        incs = sorted({op["name"].split(":", 1)[0] for op in p["ops"]})
        landed = [os.path.join(inputs["inc_dir"], f"{i}.parquet") for i in incs]
        sink_verdict = {}
        for pipe in wl["pipelines"]:
            sink_verdict[pipe] = oracle.check_stream(
                landed, f"{out}/p{p['pass']}/{pipe}", pipe, p["watermarks"].get(pipe))
        for op in p["ops"]:
            pipe = op["name"].split(":", 1)[1]
            verdicts[(p["pass"], op["idx"])] = (
                (op["err"] or "failed") if not op["ok"] else sink_verdict[pipe])
    return verdicts


# ---- reduction --------------------------------------------------------------

def _steal_pct(h0, h1):
    dt = h1["cpu_total"] - h0["cpu_total"]
    if h0["cpu_total"] < 0 or dt <= 0:
        return -1.0
    return 100.0 * (h1["cpu_steal"] - h0["cpu_steal"]) / dt


def _op_jobs(pass_rec, trace):
    """Jobs of each operation: by the job group the harness set, else (for
    threads that do not inherit it, e.g. streaming micro-batches) by start
    time inside the operation."""
    ops = pass_rec["ops"]
    by_group = {f"pb-{pass_rec['pass']}-{op['idx']}": op["idx"] for op in ops}
    linked = {op["idx"]: [] for op in ops}
    for j in trace["jobs"]:
        idx = by_group.get(j["group"])
        if idx is None:
            idx = next((op["idx"] for op in ops if op["start"] <= j["start"] <= op["end"]), None)
        if idx is not None:
            linked[idx].append(j)
    return linked


def _sum(rows, key):
    return sum(r[key] for r in rows)


def layers(pass_rec):
    """Per-layer metrics of one traced pass, plus its span tree."""
    tr = pass_rec["trace"]
    ops = pass_rec["ops"]
    lo, hi = ops[0]["start"], ops[-1]["end"]
    linked = _op_jobs(pass_rec, tr)
    job_ids = {j["id"] for js in linked.values() for j in js}
    stages = [s for s in tr["stages"] if s["job"] in job_ids]
    qes = [q for q in tr["qe"] if lo <= q["t"] <= hi]
    prog = [p for p in tr["progress"] if lo - 1 <= p["t"] <= hi]
    spans = [{"id": "pass", "parent": None, "kind": "pass", "start": lo, "end": hi,
              "self_s": stats.self_time((lo, hi), [(op["start"], op["end"]) for op in ops])
              / 1000.0}]
    nonjob = 0.0
    for op in ops:
        jobs = linked[op["idx"]]
        ivs = [(j["start"], j["end"] or op["end"]) for j in jobs]
        op_self = stats.self_time((op["start"], op["end"]), ivs) / 1000.0
        nonjob += op_self
        sid = f"op{op['idx']}"
        spans.append({"id": sid, "parent": "pass", "kind": "op", "name": op["name"],
                      "start": op["start"], "end": op["end"], "self_s": op_self})
        for part, a, b in (("build", op["start"], op["build_end"]),
                           ("exec", op["build_end"], op["end"])):
            spans.append({"id": f"{sid}.{part}", "parent": sid, "kind": part,
                          "start": a, "end": b,
                          "self_s": stats.self_time((a, b), ivs) / 1000.0})
        for j in jobs:
            part = "build" if j["start"] < op["build_end"] else "exec"
            js = [s for s in stages if s["job"] == j["id"]]
            spans.append({"id": f"job{j['id']}", "parent": f"{sid}.{part}", "kind": "job",
                          "start": j["start"], "end": j["end"],
                          "stages": len(js), "tasks": _sum(js, "tasks"),
                          "shuffle_bytes": _sum(js, "sw_bytes") + _sum(js, "sr_bytes")})

    def dur(key):
        return sum(p["dur"].get(key, 0) for p in prog) / 1000.0

    last_mem = {}
    for p in sorted(prog, key=lambda p: p["t"]):
        last_mem[p["name"]] = sum(s["mem"] for s in p["state"])
    probes = pass_rec["probes"]
    m = {
        "operators.build_s": sum(op["build_end"] - op["start"] for op in ops) / 1000.0,
        "operators.exec_s": sum(op["end"] - op["build_end"] for op in ops) / 1000.0,
        "materialize.persisted_rdds": pass_rec["persisted_rdds"],
        "materialize.cached_bytes": pass_rec["cached_bytes"],
        "catalyst.analysis_s": sum(q["phases"].get("analysis", 0) for q in qes) / 1000.0,
        "catalyst.optimization_s": sum(q["phases"].get("optimization", 0) for q in qes) / 1000.0,
        "catalyst.planning_s": sum(q["phases"].get("planning", 0) for q in qes) / 1000.0,
        "catalyst.executions": len(qes),
        "scheduler.jobs": len(job_ids),
        "scheduler.stages": len(stages),
        "scheduler.tasks": _sum(stages, "tasks"),
        "scheduler.task_retries": _sum(stages, "retries"),
        "driver.nonjob_s": nonjob,
        "jvm.gc_s": pass_rec["gc_ms"] / 1000.0,
        "scan.input_bytes": _sum(stages, "in_bytes"),
        "scan.input_records": _sum(stages, "in_recs"),
        "exchange.write_bytes": _sum(stages, "sw_bytes"),
        "exchange.read_bytes": _sum(stages, "sr_bytes"),
        "exchange.records": _sum(stages, "sw_recs"),
        "exchange.fetch_wait_s": _sum(stages, "fetch_wait_ms") / 1000.0,
        "exchange.write_s": _sum(stages, "sw_time_ns") / 1e9,
        "executor.run_s": _sum(stages, "run_ms") / 1000.0,
        "executor.cpu_s": _sum(stages, "cpu_ns") / 1e9,
        "executor.gc_s": _sum(stages, "gc_ms") / 1000.0,
        "executor.spill_bytes": _sum(stages, "spill_disk"),
        "executor.peak_mem_bytes": max([s["peak_mem"] for s in stages] or [0]),
        "executor.result_bytes": _sum(stages, "result_bytes"),
        "streams.batches": len(prog),
        "streams.empty_batches": sum(1 for p in prog if p["rows"] == 0),
        "streams.trigger_s": dur("triggerExecution"),
        "streams.add_batch_s": dur("addBatch"),
        "streams.wal_commit_s": dur("walCommit"),
        "streams.planning_s": dur("queryPlanning"),
        "streams.state_commit_s": sum(s["commit_ms"] for p in prog for s in p["state"]) / 1000.0,
        "streams.state_rows_updated": sum(s["updated"] for p in prog for s in p["state"]),
        "streams.state_memory_bytes": sum(last_mem.values()),
    }
    if probes:
        m["scan.probe_s"] = sum(v for k, v in probes.items() if k.startswith("scan."))
        for k, v in probes.items():
            if k.startswith("kernels."):
                m[k + "_s"] = v
    per_op = {}
    for op in ops:
        js = linked[op["idx"]]
        ids = {j["id"] for j in js}
        st = [s for s in stages if s["job"] in ids]
        # progress events attach by the run id of the trigger the
        # operation started, else by time
        batches = [p for p in prog if p["run_id"] in op["run_ids"]
                   or (not op["run_ids"] and op["start"] <= p["t"] <= op["end"])]
        per_op[op["name"]] = {"jobs": len(js), "stages": len(st),
                              "shuffle_write_bytes": _sum(st, "sw_bytes"),
                              "shuffle_read_bytes": _sum(st, "sr_bytes"),
                              "stream_batches": len(batches)}
    return m, spans, per_op


SWITCHED_OFF = {
    "streams.state_rows_total": (
        "null: the RocksDB state-store policy (Tuning.withRocksDbStateStore) runs "
        "with trackTotalNumberOfRows=false, which zeroes numRowsTotal"),
}
# times that read exactly 0 on a workload by construction: the detail file
# reports them as null with the reason, and the result line leaves them out
NOT_MEASURED = {
    "exchange.fetch_wait_s": (
        None, "local mode reads shuffle blocks in-process, so there is no fetch wait"),
    "catalyst.analysis_s": ("stream", "micro-batches raise no QueryExecutionListener "
                            "event; their planning is streams.planning_s"),
    "catalyst.optimization_s": ("stream", "as catalyst.analysis_s"),
    "catalyst.planning_s": ("stream", "as catalyst.analysis_s"),
}


def report(wl, raw, verdicts, trace):
    """Reduces the harness output. Every time is kept twice: as wall time
    (`*_wall_s`) and with the hypervisor's steal taken out (`*_s`, see
    `stats.unstolen`); the end-to-end metrics are medians of the latter."""
    passes, failures, latencies, wall_latencies = [], [], [], []
    attempted = failed = 0
    for p in raw["passes"]:
        ops = []
        for op in p["ops"]:
            why = verdicts.get((p["pass"], op["idx"]))
            attempted += 1
            if why is not None:
                failed += 1
                failures.append((op["name"], why))
            wall = (op["end"] - op["start"]) / 1000.0
            lat = stats.unstolen(wall, op["ticks"])
            if why is None and p["pass"] >= wl["warmup_passes"] and not p["traced"]:
                latencies.append(lat)
                wall_latencies.append(wall)
            ops.append({"name": op["name"], "latency_s": lat, "latency_wall_s": wall,
                        "steal_share": stats.steal_share(op["ticks"]),
                        "build_s": (op["build_end"] - op["start"]) / 1000.0,
                        "exec_s": (op["end"] - op["build_end"]) / 1000.0,
                        "ok": why is None, "reason": why})
        h0, h1 = p["host_start"], p["host_end"]
        setup_wall = (p["setup_end"] - p["setup_start"]) / 1000.0
        makespan_wall = (p["ops"][-1]["end"] - p["ops"][0]["start"]) / 1000.0
        passes.append({
            "pass": p["pass"], "traced": p["traced"],
            "setup_s": stats.unstolen(setup_wall, p["setup_ticks"]),
            "setup_wall_s": setup_wall,
            "setup_phases": p["setup_phases"],
            # the gaps between operations are harness time, kept as wall
            "makespan_s": makespan_wall - sum(o["latency_wall_s"] - o["latency_s"] for o in ops),
            "makespan_wall_s": makespan_wall,
            "load_start": h0["load"], "load_end": h1["load"],
            "steal_pct": _steal_pct(h0, h1), "ops": ops})
    timed = passes[wl["warmup_passes"]:]
    untraced = [p for p in timed if not p["traced"]]
    tail = stats.tail_percentile(latencies)
    first_op = raw["passes"][wl["warmup_passes"]]["ops"][0]["start"]
    e2e = {
        "makespan_s": stats.median([p["makespan_s"] for p in untraced]),
        "op_p50_s": stats.median(latencies),
        "setup_s": stats.median([p["setup_s"] for p in timed]),
    }
    out = {
        "end_to_end": e2e,
        "end_to_end_wall": {
            "makespan_wall_s": stats.median([p["makespan_wall_s"] for p in untraced]),
            "op_p50_wall_s": stats.median(wall_latencies),
            "setup_wall_s": stats.median([p["setup_wall_s"] for p in timed]),
        },
        "failed_ratio": failed / attempted if attempted else None,
        # the JVM's peak resident memory follows the GC's heap sizing more
        # than the program's live data; reported, not gated on
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        # highest percentile with at least 10 samples beyond it; null
        # below 11 samples
        "op_tail": {"percentile": tail[0] if tail else None,
                    "value_s": tail[1] if tail else None,
                    "samples": len(latencies)},
        "process_start_to_first_timed_op_s": (first_op - raw["process_start_ms"]) / 1000.0,
        "attempted": attempted, "failed": failed, "failures": failures,
        "passes": passes,
    }
    if trace:
        traced = [p for p in raw["passes"] if p["traced"]]
        per_pass = [layers(p) for p in traced]
        keys = sorted({k for m, _, _ in per_pass for k in m})
        lay = {k: stats.median([m[k] for m, _, _ in per_pass if k in m]) for k in keys}
        overhead = (stats.median([p["makespan_s"] for p in passes if p["traced"]])
                    - e2e["makespan_s"])
        lay["trace.overhead_s"] = overhead
        nulls = {k: {"value": None, "reason": why} for k, (kind, why) in NOT_MEASURED.items()
                 if kind in (None, wl["kind"])}
        nulls.update({k: {"value": None, "reason": v} for k, v in SWITCHED_OFF.items()})
        out["per_layer"] = {**lay, **nulls}
        out["spans"] = per_pass[0][1] if per_pass else []
        out["per_op_trace"] = per_pass[0][2] if per_pass else {}
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in lay.items()
                   if k not in NOT_MEASURED}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    out["metrics"] = metrics
    return out


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"
