"""Metric computation for the benchmark: the percentile rule, the
end-to-end metrics of a run, and the per-layer metrics of a traced run.

A run's JVM writes ``result.json`` (every operation, set-up times, heap,
hygiene counters) and, when traced, ``trace.jsonl`` (harness spans plus
Spark listener events). Everything here is a pure function of those
records, so the same numbers come out of ``run.py``, ``report.py`` and the
tests.
"""
import math

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-th percentile of ``values``.

    Refuses (raises ValueError) when fewer than ``min_beyond`` samples lie
    beyond the percentile: such a figure is one or two samples, not a
    percentile.
    """
    n = len(values)
    rank = max(1, math.ceil(q / 100.0 * n))
    if n == 0 or n - rank < min_beyond:
        raise ValueError(
            f"p{q:g} of {n} samples has {max(0, n - rank)} beyond it; "
            f"needs at least {min_beyond}")
    return sorted(values)[rank - 1]


def median(values):
    s = sorted(values)
    if not s:
        return 0.0
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


# ---------------------------------------------------------------- end to end

def end_to_end(result, spec):
    """The end-to-end metrics of one run, with ``attempted`` and ``failed``.

    Every operation the run attempted counts: a failed, cancelled-by-
    watchdog, mismatched or never-answered operation is a failure and a
    latency-limit miss; nothing is dropped. A gateway job whose cancel the
    store accepted has no latency sample and is not counted against the
    limit (its check is that it ended Cancelled).
    """
    ops = result["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    timed = [o for o in ops if o.get("wall_s") is not None]
    walls = [o["wall_s"] for o in timed]
    limit = spec["latency_limit_s"]
    within = sum(1 for o in timed if o["ok"] and o["wall_s"] <= limit)
    good = sum(1 for o in timed if o["ok"])
    if spec["loop"] == "closed":
        # Closed loop: completed work per second of the operations' own time
        # (the untimed output dumps between operations are excluded).
        span = sum(walls)
    else:
        # Open loop: completed jobs per second of the whole timed window.
        span = result["window_s"]
    values = {
        "setup_s": result["setup_s"],
        "ops_per_s": good / span if span > 0 else 0.0,
        "op_p50_s": percentile(walls, 50),
        "slo_frac": within / len(timed) if timed else 0.0,
        "ok_frac": (attempted - failed) / attempted if attempted else 0.0,
        "heap_live_mb": result["heap_live_mb"],
    }
    return attempted, failed, values


# ----------------------------------------------------------------- per layer

def _union(intervals):
    out = []
    for s, e in sorted(tuple(i) for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _length(intervals):
    return sum(e - s for s, e in intervals)


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


class Trace:
    """A traced run's records joined into operations, Spark jobs, stages,
    SQL executions and streaming progress, each attributed to an operation.
    """

    def __init__(self, events):
        self.spans = {}
        for ev in events:
            if ev["kind"] == "span":
                self.spans.setdefault(ev["op"], []).append(ev)
        self.ops = {op: next(s for s in ss if s["name"] == "op")
                    for op, ss in self.spans.items()
                    if any(s["name"] == "op" for s in ss)}
        # Sequential workloads attribute an untagged event to the operation
        # running at the time; the concurrent gateway workload to the launch
        # call in flight (the only untagged Spark work it starts).
        launches = [(s["start"], s["end"], op) for op, ss in self.spans.items()
                    for s in ss if s["name"] == "launch"]
        self.op_spans = sorted(launches or
                               [(s["start"], s["end"], op) for op, s in self.ops.items()])
        group_op = {s.get("group"): op for op, s in self.ops.items() if s.get("group")}

        starts = {e["job"]: e for e in events if e["kind"] == "job_start"}
        ends = {e["job"]: e for e in events if e["kind"] == "job_end"}
        self.jobs = []
        for jid, st in starts.items():
            end = ends.get(jid, {}).get("time", st["time"])
            group = st["group"]
            if group == "perfbench-check":
                continue
            op = group_op.get(group)
            if op is None:
                op = self._containing(st["time"])
            self.jobs.append({"job": jid, "start": st["time"], "end": end, "group": group,
                              "site": st["site"], "stages": st["stages"], "op": op})
        stage_job = {s: j for j in self.jobs for s in j["stages"]}
        self.stage_tasks = [dict(e, job=stage_job[e["stage"]]) for e in events
                            if e["kind"] == "stage_tasks" and e["stage"] in stage_job]
        self.stages = [dict(e, job=stage_job[e["stage"]]) for e in events
                       if e["kind"] == "stage" and e["stage"] in stage_job]
        # SQL executions: attributed where possible, all counted in totals.
        self.sql = [dict(e, op=self._containing(e["analysis"][0])) for e in events
                    if e["kind"] == "sql" and e.get("analysis")]
        runs = {}
        for e in events:
            if e["kind"] == "stream_start":
                runs[e["run"]] = self._containing(e["time"])
        self.lifecycles = [(r, op) for r, op in runs.items() if op is not None]
        self.progress = [dict(e, op=runs.get(e["run"])) for e in events
                         if e["kind"] == "progress" and runs.get(e["run"]) is not None]

    def _containing(self, t):
        for s, e, op in self.op_spans:
            if s <= t <= e:
                return op
        return None

    def child(self, op, name):
        return [s for s in self.spans.get(op, []) if s["name"] == name]

    def op_jobs(self, op):
        return [j for j in self.jobs if j["op"] == op]

    def action_breakdown(self, op):
        """(build, sql, job wall, driver gap, wall) of one query, in ms.

        sql is the part of the action its SQL planning phases cover, plus
        the op's codegen compile time counted against the action time that
        nothing else covers (capped there: compiles that run inside tasks
        already sit in job wall); job wall is the part Spark jobs cover
        beyond the planning phases; driver gap is the time between the
        action's first and last job that neither covers.
        """
        o = self.ops[op]
        wall = o["end"] - o["start"]
        build = sum(s["end"] - s["start"] for s in self.child(op, "build"))
        act = self.child(op, "action")
        if not act:
            return build, 0.0, 0.0, 0.0, wall
        lo, hi = act[0]["start"], act[0]["end"]
        sql_iv = _union(_clip([tuple(e[p]) for e in self.sql if e["op"] == op
                               for p in ("analysis", "optimization", "planning")
                               if e.get(p)], lo, hi))
        job_iv = _union(_clip([(j["start"], j["end"]) for j in self.op_jobs(op)], lo, hi))
        covered = _length(_union(sql_iv + job_iv))
        gap = 0.0
        if job_iv:
            first, last = job_iv[0][0], job_iv[-1][1]
            gap = (last - first) - _length(_clip(_union(sql_iv + job_iv), first, last))
        codegen = min(o.get("codegen_ms", 0.0), max(0.0, (hi - lo) - covered - gap))
        sql = _length(sql_iv) + codegen
        jobs = covered - _length(sql_iv)
        return build, sql, jobs, gap, wall


# Per-layer metric names, in report order. Each is a run total; the ones in
# PER_OP also get a ".op_p50" variant, the median over the run's operations.
LAYER_METRICS = {
    "queries": ["queries.build_s", "queries.build_jobs"],
    "sql": ["sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms",
            "sql.executions", "sql.codegen_ms", "sql.codegen_classes"],
    "exec": ["exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_ms",
             "exec.driver_gap_ms", "exec.run_ms", "exec.cpu_ms", "exec.deser_ms",
             "exec.gc_ms", "exec.sched_delay_ms", "exec.fetch_wait_ms",
             "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
             "exec.spill_mb", "exec.task_retries"],
    "streaming": ["streaming.lifecycles", "streaming.batches",
                  "streaming.empty_batch_frac", "streaming.addBatch_ms",
                  "streaming.queryPlanning_ms", "streaming.getBatch_ms",
                  "streaming.latestOffset_ms", "streaming.walCommit_ms",
                  "streaming.commitOffsets_ms", "streaming.triggerExecution_ms",
                  "streaming.startstop_ms", "streaming.state_rows_max"],
    "gateway": ["gateway.launch_ms", "gateway.poll_ms", "gateway.fetch_ms",
                "gateway.cancel_ms", "gateway.polls_per_job", "gateway.http_5xx"],
    "sources": ["sources.launch_parse_jobs", "sources.launch_parse_ms"],
    "jobstore": ["jobstore.queue_ms", "jobstore.run_ms", "jobstore.validate_ms",
                 "jobstore.materialize_ms", "jobstore.spilled_frac",
                 "jobstore.cancel_ok_frac"],
    "mrjob": ["mrjob.stages", "mrjob.tasks", "mrjob.shuffle_write_mb"],
    "jvm": ["jvm.gc_ms"],
    "loadgen": ["loadgen.late_max_ms"],
    "hygiene": ["hygiene.tmp_dirs", "hygiene.active_streams",
                "hygiene.persisted_rdds", "hygiene.graft_tables"],
}

PER_OP = {m for layer in ("queries", "sql", "exec", "sources", "mrjob")
          for m in LAYER_METRICS[layer]} | {
    "streaming.lifecycles", "streaming.batches", "streaming.addBatch_ms",
    "streaming.queryPlanning_ms", "streaming.triggerExecution_ms",
    "streaming.startstop_ms", "gateway.launch_ms", "gateway.poll_ms",
    "gateway.fetch_ms", "gateway.polls_per_job", "jobstore.queue_ms",
    "jobstore.run_ms", "jobstore.validate_ms", "jobstore.materialize_ms"}


def all_layer_names():
    names = []
    for ms in LAYER_METRICS.values():
        for m in ms:
            names.append(m)
            if m in PER_OP:
                names.append(m + ".op_p50")
    return names


MB = 1024.0 * 1024.0
STREAM_PHASES = ["addBatch", "queryPlanning", "getBatch", "latestOffset",
                 "walCommit", "commitOffsets", "triggerExecution"]


def _gateway_layer(job):
    """Layer of a Spark job the gateway started. Launch parsing is found by
    its call site; everything a job's pool thread runs carries the job's
    group and is forced by JobStore's materialize; the remaining untagged
    work inside a launch call is JobStore's input validation. (Jobs that
    Spark runs on its own threads record no engine call site.)"""
    if job["site"].startswith("graft.sources.Sources"):
        return "sources"
    if job["group"].startswith("graft-job-"):
        return "jobstore.materialize"
    if job["group"] == "":
        return "jobstore.validate"
    return ""


def layer_metrics(result, events):
    """Every per-layer metric of a traced run: run totals and, for PER_OP
    metrics, the median over operations. A layer that did no work reads 0.
    """
    tr = Trace(events)
    ops = sorted(tr.ops)
    per_op = {m: {op: 0.0 for op in ops} for m in PER_OP}
    total = {m: 0.0 for ms in LAYER_METRICS.values() for m in ms}

    def add(name, op, v):
        total[name] += v
        if name in PER_OP and op in per_op[name]:
            per_op[name][op] += v

    by_op_stage = {}
    for st in tr.stage_tasks:
        by_op_stage.setdefault(st["job"]["op"], []).append(st)
    for op in ops:
        o = tr.ops[op]
        for b in tr.child(op, "build"):
            add("queries.build_s", op, (b["end"] - b["start"]) / 1000.0)
            add("queries.build_jobs", op, sum(
                1 for j in tr.op_jobs(op) if b["start"] <= j["start"] <= b["end"]))
        if "codegen_ms" in o:
            add("sql.codegen_ms", op, o["codegen_ms"])
            add("sql.codegen_classes", op, o["codegen_classes"])
        jobs = tr.op_jobs(op)
        add("exec.jobs", op, len(jobs))
        add("exec.job_wall_ms", op, _length(_union([(j["start"], j["end"]) for j in jobs])))
        if tr.child(op, "action"):
            add("exec.driver_gap_ms", op, tr.action_breakdown(op)[3])
        for st in by_op_stage.get(op, []):
            add("exec.tasks", op, st["tasks"])
            add("exec.run_ms", op, st["run_ms"])
            add("exec.cpu_ms", op, st["cpu_ms"])
            add("exec.deser_ms", op, st["deser_ms"])
            add("exec.gc_ms", op, st["gc_ms"])
            add("exec.sched_delay_ms", op, st["sched_ms"])
            add("exec.fetch_wait_ms", op, st["fetch_wait_ms"])
            add("exec.input_mb", op, st["input_b"] / MB)
            add("exec.shuffle_read_mb", op, st["shuffle_read_b"] / MB)
            add("exec.shuffle_write_mb", op, st["shuffle_write_b"] / MB)
            add("exec.spill_mb", op, st["spill_b"] / MB)
            add("exec.task_retries", op, st["retries"])
            if st["job"]["group"].startswith("graft-job-"):
                add("mrjob.tasks", op, st["tasks"])
                add("mrjob.shuffle_write_mb", op, st["shuffle_write_b"] / MB)
        if tr.child(op, "launch"):
            layers = {}
            for j in jobs:
                layers.setdefault(_gateway_layer(j), []).append((j["start"], j["end"]))
            add("sources.launch_parse_jobs", op, len(layers.get("sources", [])))
            for name, layer in (("sources.launch_parse_ms", "sources"),
                                ("jobstore.validate_ms", "jobstore.validate"),
                                ("jobstore.materialize_ms", "jobstore.materialize")):
                add(name, op, _length(_union(layers.get(layer, []))))
        for name, kind in (("gateway.launch_ms", "launch"), ("gateway.poll_ms", "poll"),
                           ("gateway.fetch_ms", "fetch"), ("gateway.cancel_ms", "cancel"),
                           ("jobstore.queue_ms", "queued"), ("jobstore.run_ms", "running")):
            add(name, op, sum(s["end"] - s["start"] for s in tr.child(op, kind)))
    for st in tr.stages:
        add("exec.stages", st["job"]["op"], 1)
        if st["job"]["group"].startswith("graft-job-"):
            add("mrjob.stages", st["job"]["op"], 1)
    for e in tr.sql:  # op None: counted in the run total only
        for phase in ("analysis", "optimization", "planning"):
            if e.get(phase):
                add(f"sql.{phase}_ms", e["op"], e[phase][1] - e[phase][0])
        add("sql.executions", e["op"], 1)
    if not any("codegen_ms" in tr.ops[op] for op in ops):
        # Concurrent workload: codegen counters are only known per run.
        total["sql.codegen_ms"] = result["codegen_ms"]
        total["sql.codegen_classes"] = result["codegen_classes"]
    for _, op in tr.lifecycles:
        add("streaming.lifecycles", op, 1)
    trigger_by_op = {}
    for p in tr.progress:
        add("streaming.batches", p["op"], 1)
        for ph in STREAM_PHASES:
            add(f"streaming.{ph}_ms", p["op"], p.get("d_" + ph, 0))
        trigger_by_op[p["op"]] = trigger_by_op.get(p["op"], 0) + p.get("d_triggerExecution", 0)
        total["streaming.state_rows_max"] = max(total["streaming.state_rows_max"], p["state_rows"])
    if tr.progress:
        total["streaming.empty_batch_frac"] = (
            sum(1 for p in tr.progress if p["rows"] == 0) / len(tr.progress))
    for op in {op for _, op in tr.lifecycles}:
        build_ms = sum(b["end"] - b["start"] for b in tr.child(op, "build"))
        add("streaming.startstop_ms", op, max(0.0, build_ms - trigger_by_op.get(op, 0)))

    rops = result["ops"]
    jobs_fetched = [o for o in rops if o.get("bytes")]
    if result["workload"] == "mr_gateway":
        for op in ops:
            polls = next((o["polls"] for o in rops if o["op"] == op), 0)
            add("gateway.polls_per_job", op, polls)
        total["gateway.polls_per_job"] = total["gateway.polls_per_job"] / max(1, len(ops))
        total["gateway.http_5xx"] = sum(
            1 for o in rops if o.get("error") and " answered 5" in o["error"])
        total["jobstore.spilled_frac"] = (
            sum(1 for o in jobs_fetched if o["spilled"]) / len(jobs_fetched)
            if jobs_fetched else 0.0)
        sent = [o for o in rops if o["cancel_sent"]]
        total["jobstore.cancel_ok_frac"] = (
            sum(1 for o in sent if o["cancelled"]) / len(sent) if sent else 0.0)
        total["loadgen.late_max_ms"] = max((o["late_ms"] for o in rops), default=0.0)
    total["jvm.gc_ms"] = result["gc_ms"]
    for k in ("tmp_dirs", "active_streams", "persisted_rdds", "graft_tables"):
        total["hygiene." + k] = result["hygiene_end"][k] - result["hygiene_start"][k]

    out = {}
    for name in all_layer_names():
        if name.endswith(".op_p50"):
            out[name] = median(list(per_op[name[:-7]].values()))
        else:
            out[name] = total[name]
    return out, tr
