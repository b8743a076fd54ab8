"""Metrics of one run, from the JVM's raw measurements and, for a traced
run, its span dump. METRICS.md defines each metric."""
import json
import statistics
from collections import defaultdict

import attribution

MB = 1048576.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _m(value, unit):
    return {"value": value, "unit": unit}


def _sub_p50(raw, name, traced=False):
    """Median wall of the sub-operations called `name` that succeeded:
    the untraced ones, or all of them with `traced`."""
    return _median([s["wall_s"] for s in raw["subops"]
                    if s["name"] == name and s["ok"] and (traced or not s["traced"])])


def _outcome(raw):
    """(attempted, failed): ops plus output checks."""
    attempted = len(raw["ops"]) + raw["checks_attempted"]
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + raw["checks_failed"]
    return attempted, failed


def end_to_end(raw):
    done = [o["wall_s"] for o in raw["ops"] if o["ok"] and not o["traced"]]
    return {
        "setup_s": _m(raw["launch_to_session_s"] + _median(raw["prep_s"]), "s"),
        "op_p50_s": _m(_median(done), "s"),
        "ops_per_s": _m(len(done) / raw["loop_s"], "1/s"),
    }


def _load(path):
    recs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                recs[r["kind"]].append(r)
    return recs


def _within(t, span):
    return span["start"] <= t <= span["end"]


def _overhead(ops):
    """Tracing overhead: the traced ops' wall over the untraced wall of
    the same mix, per op kind (median wall of each kind present in both
    halves, weighted by the traced count), minus 1."""
    walls = defaultdict(lambda: ([], []))
    for o in ops:
        if o["ok"]:
            walls[o["name"]][0 if o["traced"] else 1].append(o["wall_s"])
    both = [(t, u) for t, u in walls.values() if t and u]
    base = sum(len(t) * _median(u) for t, u in both)
    return sum(len(t) * _median(t) for t, _ in both) / base - 1 if base else 0.0


def per_layer(raw, spans_path):
    recs = _load(spans_path)
    cpus = float(raw["cpus"])
    # layer figures describe completed work: a failed op's calls and
    # jobs stop part way, so they are left out
    ops = [o for o in recs["op"] if o["ok"]]
    ok_ids = {o["id"] for o in ops}
    calls = [c for c in recs["call"] if c["op"] in ok_ids]
    execs = {e["exec"]: e for e in recs["exec_start"]}
    ends = recs["exec_end"]
    gauges = defaultdict(list)
    failed_ids = {o["id"] for o in recs["op"] if not o["ok"]}
    for g in recs["gauge"]:
        if g["op"] not in failed_ids:
            gauges[g["name"]].append(g["value"])

    # parent every job: op and call by time containment, module by call site
    jobs = recs["job"]
    # adaptive stages of a micro-batch run on other threads: they take
    # the stream-thread call site of a job of the same SQL execution
    exec_stack = {j["exec"]: j["stack_site"] for j in jobs if j["exec"] and j["stack_site"]}
    for j in jobs:
        j["stack_site"] = j["stack_site"] or exec_stack.get(j["exec"], "")
        j["op"] = next((o for o in ops if _within(j["start"], o)), None)
        j["call"] = next((c for c in calls if _within(j["start"], c)), None)
        e = execs.get(j["exec"], {})
        j["module"], j["how"] = attribution.job_attribution(
            j["site"], e.get("desc", ""), e.get("details", ""),
            j["call"]["module"] if j["call"] else None, j["stack_site"])
        j["wall_s"] = (j["end"] - j["start"]) / 1e3
    for e in ends:
        e["call"] = next((c for c in calls if _within(e["t"], c)), None)
    in_op = [j for j in jobs if j["op"]]
    n_ops = max(1, len(ops))

    def calls_of(prefix, phase=None):
        return [c for c in calls if c["name"].startswith(prefix) and (phase is None or c["phase"] == phase)]

    def jobs_in(cs):
        ids = {id(c) for c in cs}
        return [j for j in jobs if j["call"] is not None and id(j["call"]) in ids]

    def execs_in(cs):
        ids = {id(c) for c in cs}
        return [e for e in ends if e["call"] is not None and id(e["call"]) in ids]

    def mod(js, m):
        return [j for j in js if j["module"] == m]

    out = {}

    def put(name, value, unit):
        out[name] = _m(value, unit)

    # whole-run results that are not end-to-end metrics
    attempted, failed = _outcome(raw)
    put("op_fail_ratio", failed / attempted, "ratio")
    put("query_p50_s", _sub_p50(raw, "query"), "s")
    # ann_live's one tick runs in set-up, traced in a traced run
    put("tick_p50_s", _sub_p50(raw, "tick", traced=True), "s")
    put("peak_rss_mb", raw["peak_rss_mb"], "MB")
    put("recall_at_10", raw.get("recall_at_10", 0.0), "ratio")
    put("space_amp", raw.get("space_amp", 0.0), "ratio")
    put("trace.overhead_share", _overhead(raw["ops"]), "ratio")

    put("Sessions.start_s", raw["session_start_s"], "s")

    # ops: the analytics read after each ingest tick (Graft.resampleOhlc)
    q_calls = [c for c in calls if c["module"] == "ops"]
    nq = max(1, len(calls_of("Graft.resampleOhlc", "construct")))
    for phase in ("construct", "plan", "exec"):
        put(f"ops.{phase}_s", sum(c["wall_s"] for c in q_calls if c["phase"] == phase) / nq, "s")
    put("ops.construct_jobs", len(jobs_in([c for c in q_calls if c["phase"] == "construct"])) / nq, "count")
    q_execs = execs_in(q_calls)
    put("ops.planning_s", sum(e["planning_ms"] for e in q_execs) / 1e3 / nq, "s")
    exec_ends = execs_in([c for c in q_calls if c["phase"] == "exec"])
    put("ops.exchanges", sum(e["exchanges"] for e in exec_ends) / nq, "count")
    put("ops.smj_joins", sum(e["smj"] for e in exec_ends) / nq, "count")
    put("ops.broadcast_joins", sum(e["bhj"] for e in exec_ends) / nq, "count")
    qj = jobs_in(q_calls)
    put("ops.stages", sum(j["stages"] for j in qj) / nq, "count")
    put("ops.tasks", sum(j["tasks"] for j in qj) / nq, "count")
    put("ops.shuffle_write_mb", sum(j["shuffle_write"] for j in qj) / MB / nq, "MB")
    put("ops.shuffle_read_mb", sum(j["shuffle_read"] for j in qj) / MB / nq, "MB")
    put("ops.spill_mb", sum(j["spill"] for j in qj) / MB / nq, "MB")
    put("ops.scan_mb", sum(j["input"] for j in qj) / MB / nq, "MB")

    # ops.SimOps: graph-ANN search batches and the SimOps share of ticks
    s_calls = calls_of("Graft.annGraph")
    ns = max(1, len(calls_of("Graft.annGraph", "construct")))
    sj = jobs_in(s_calls)
    put("ops.SimOps.search_construct_s", sum(c["wall_s"] for c in s_calls if c["phase"] == "construct") / ns, "s")
    put("ops.SimOps.search_exec_s", sum(c["wall_s"] for c in s_calls if c["phase"] == "exec") / ns, "s")
    put("ops.SimOps.search_jobs", len(sj) / ns, "count")
    put("ops.SimOps.search_exchanges", sum(e["exchanges"] for e in execs_in(s_calls)) / ns, "count")
    put("ops.SimOps.search_shuffle_mb", sum(j["shuffle_write"] for j in sj) / MB / ns, "MB")
    tick_calls = calls_of("annIndexTick")
    nt = max(1, len(tick_calls))
    tj = jobs_in(tick_calls)
    put("ops.SimOps.tick_busy_s", sum(j["wall_s"] for j in mod(tj, "ops.SimOps")) / nt, "s")

    # sources, timed by the benchmark on each ingest tick's pages
    for g, unit in (("parse_s", "s"), ("pages", "count"), ("rows_parsed", "count"), ("kept_ratio", "ratio")):
        put(f"sources.{g}", _mean(gauges[f"sources.{g}"]), unit)

    # sinks.MergeWriter, per ingest tick
    i_calls = calls_of("streamingKlineIngest")
    ni = max(1, len(i_calls))
    mw = mod(jobs_in(i_calls), "sinks.MergeWriter")
    put("sinks.MergeWriter.jobs", len(mw) / ni, "count")
    put("sinks.MergeWriter.busy_s", sum(j["wall_s"] for j in mw) / ni, "s")
    mw_bytes = sum(j["out_bytes"] for j in mw)
    put("sinks.MergeWriter.bytes_written_mb", mw_bytes / MB / ni, "MB")
    delta = sum(gauges["sinks.MergeWriter.delta_bytes"])
    put("sinks.MergeWriter.write_amp", mw_bytes / delta if delta else 0.0, "ratio")
    for g in ("files_written", "partitions_rewritten"):
        put(f"sinks.MergeWriter.{g}", _mean(gauges[f"sinks.MergeWriter.{g}"]), "count")
    put("sinks.MergeWriter.files_per_partition_max",
        max(gauges["sinks.MergeWriter.files_per_partition_max"] or [0]), "count")

    # streaming: micro-batch progress (ingest) and index ticks (ann_live)
    for g in ("trigger_s", "add_batch_s", "query_planning_s", "wal_commit_s", "latest_offset_s"):
        put(f"streaming.{g}", _mean(gauges[f"streaming.{g}"]), "s")
    put("streaming.tick_jobs", len(tj) / nt, "count")
    put("streaming.tick_shuffle_mb", sum(j["shuffle_write"] for j in tj) / MB / nt, "MB")
    landed = sum(j["out_rows"] for j in mod(tj, "sinks.AnnStore"))
    delta_rows = raw.get("ann_delta_rows", 0) * len(tick_calls)
    put("streaming.landed_rows_per_delta_row", landed / delta_rows if delta_rows else 0.0, "ratio")
    compact = [s["wall_s"] for s in raw["subops"] if s["name"] == "compact" and s["ok"]]
    put("streaming.compact_s", _median(compact), "s")
    put("streaming.outstanding_landings", _mean(gauges["streaming.outstanding_landings"]), "count")

    # sinks.AnnStore, per ann tick (lands) and per search (view reads)
    aj = mod(tj, "sinks.AnnStore")
    put("sinks.AnnStore.land_jobs", len(aj) / nt, "count")
    put("sinks.AnnStore.land_busy_s", sum(j["wall_s"] for j in aj) / nt, "s")
    put("sinks.AnnStore.bytes_written_mb", sum(j["out_bytes"] for j in aj) / MB / nt, "MB")
    put("sinks.AnnStore.files_written", _mean(gauges["sinks.AnnStore.files_written"]), "count")
    put("sinks.AnnStore.view_read_s", _mean([c["wall_s"] for c in calls_of("annLiveVectors")]), "s")

    # Checkpoints, per op
    cj = mod(in_op, "Checkpoints")
    put("Checkpoints.jobs", len(cj) / n_ops, "count")
    put("Checkpoints.busy_s", sum(j["wall_s"] for j in cj) / n_ops, "s")
    put("Checkpoints.pinned_blocks_after_op", _mean(gauges["pinned_blocks"]), "count")
    put("Checkpoints.pinned_mb_after_op", _mean(gauges["pinned_mb"]), "MB")

    # engine, per op
    op_wall = sum(o["wall_s"] for o in ops)
    put("engine.jobs", len(in_op) / n_ops, "count")
    put("engine.stages", sum(j["stages"] for j in in_op) / n_ops, "count")
    put("engine.tasks", sum(j["tasks"] for j in in_op) / n_ops, "count")
    task_s = sum(j["task_ms"] for j in in_op) / 1e3
    put("engine.task_busy_share", task_s / (op_wall * cpus) if op_wall else 0.0, "ratio")
    put("engine.gc_s", sum(j["gc_ms"] for j in in_op) / 1e3 / n_ops, "s")
    skew = [(ms, r) for j in in_op for ms, r in j["skew"]]
    w = sum(ms for ms, _ in skew)
    put("engine.task_skew", sum(ms * r for ms, r in skew) / w if w else 1.0, "ratio")
    job_wall = sum(j["wall_s"] for j in in_op)
    # jobs that only the enclosing call's module claims count as
    # unattributed: nothing about the job itself names a module
    un = sum(j["wall_s"] for j in in_op if j["how"] in ("fallback", "none"))
    put("engine.unattributed_share", un / job_wall if job_wall else 0.0, "ratio")
    return out


def result(raw, spans_path=None):
    attempted, failed = _outcome(raw)
    metrics = per_layer(raw, spans_path) if spans_path else end_to_end(raw)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
