#!/usr/bin/env python3
"""Layer report: where each workload's operation time goes.

    python3 perfbench/report.py [--workload W ...] [--seed N] [--seconds S]

For each workload it makes an untraced and a traced run on the same seed,
then prints:

  * a workload x layer table of self time: every operation's wall time is
    split into disjoint slices, each instant going to the innermost layer
    active then (Spark job > SQL planning > streaming micro-batch > query
    builder > action driver code for queries, with codegen compile time
    moved from action driver code to SQL; launch > fetch > cancel >
    running > queued > client wait for gateway jobs);
  * closure for the queries: the share of operations whose build + SQL
    planning + job wall + driver gap falls within 10% of their wall time
    (target: at least 95%);
  * the tracing overhead: each end-to-end metric of the traced run against
    the untraced run, with the untraced value as the base.
"""
import argparse
import json
import os

import metrics
import run

QUERY_LAYERS = ["exec", "sql", "streaming", "queries.build", "action.driver"]
GATEWAY_LAYERS = ["gateway.launch", "gateway.fetch", "gateway.cancel",
                  "jobstore.running", "jobstore.queued", "client.wait"]


def _subtract(intervals, taken):
    """Parts of ``intervals`` not covered by ``taken`` (both unions)."""
    out = []
    for s, e in intervals:
        cur = s
        for ts, te in taken:
            if te <= cur or ts >= e:
                continue
            if ts > cur:
                out.append((cur, ts))
            cur = max(cur, te)
        if cur < e:
            out.append((cur, e))
    return out


def self_times(tr, op, layered):
    """Disjoint self time per layer within one operation's span, in ms.
    ``layered`` is [(layer, intervals)] from innermost to outermost."""
    o = tr.ops[op]
    taken, out = [], {}
    for layer, ivs in layered:
        ivs = metrics._union(metrics._clip(ivs, o["start"], o["end"]))
        own = _subtract(ivs, taken)
        out[layer] = out.get(layer, 0.0) + metrics._length(own)
        taken = metrics._union(taken + own)
    return out


def query_layers(tr, op):
    span = lambda n: [(s["start"], s["end"]) for s in tr.child(op, n)]
    sql = [tuple(e[p]) for e in tr.sql if e["op"] == op
           for p in ("analysis", "optimization", "planning") if e.get(p)]
    batches = [(p["time"], p["time"] + p.get("d_triggerExecution", 0))
               for p in tr.progress if p["op"] == op]
    return [("exec", [(j["start"], j["end"]) for j in tr.op_jobs(op)]),
            ("sql", sql), ("streaming", batches), ("queries.build", span("build")),
            ("action.driver", span("action"))]


def gateway_layers(tr, op):
    span = lambda n: [(s["start"], s["end"]) for s in tr.child(op, n)]
    o = tr.ops[op]
    return [("gateway.launch", span("launch")), ("gateway.fetch", span("fetch")),
            ("gateway.cancel", span("cancel")), ("jobstore.running", span("running")),
            ("jobstore.queued", span("queued")), ("client.wait", [(o["start"], o["end"])])]


def report(name, seed, seconds):
    base, _, spec = run.measure(name, seed, seconds, 0)
    traced, events, _ = run.measure(name, seed, seconds, 1)
    tr = metrics.Trace(events)
    queries = name == "queries"
    cols = QUERY_LAYERS if queries else GATEWAY_LAYERS
    totals = {c: 0.0 for c in cols}
    wall = 0.0
    closes = []
    codegen = uncovered = 0.0
    for op in sorted(tr.ops):
        o = tr.ops[op]
        wall += o["end"] - o["start"]
        layered = query_layers(tr, op) if queries else gateway_layers(tr, op)
        own = self_times(tr, op, layered)
        if queries:
            build, sql, jobs, gap, w = tr.action_breakdown(op)
            # driver-side codegen compile: SQL work inside the action's
            # otherwise uncovered driver time (see Trace.action_breakdown)
            cg = min(tr.ops[op].get("codegen_ms", 0.0), own["action.driver"])
            own["sql"] += cg
            own["action.driver"] -= cg
            closes.append(abs((build + sql + jobs + gap) / w - 1.0) <= 0.10 if w > 0 else False)
            codegen += tr.ops[op].get("codegen_ms", 0.0)
            uncovered += own["action.driver"] + cg
        for layer, ms in own.items():
            totals[layer] += ms
    print(f"\n== {name} (seed {seed}, {len(tr.ops)} operations, {wall / 1000:.2f} s of "
          f"operation time)")
    print("self time by layer, ms (share of operation time):")
    for c in cols:
        print(f"  {c:18s} {totals[c]:10.0f}  ({totals[c] / wall:6.1%})" if wall else c)
    if queries:
        n_ok = sum(closes)
        verdict = "holds" if n_ok >= 0.95 * len(closes) else "does NOT hold"
        print(f"closure (build + sql + job wall + driver gap within 10% of wall): "
              f"{n_ok}/{len(closes)} operations = {n_ok / len(closes):.1%}; "
              f"the 95% criterion {verdict}")
        print(f"  (codegen compile time {codegen:.0f} ms in all, counted as SQL only within "
              f"the {uncovered:.0f} ms of action driver time that planning and jobs leave "
              f"uncovered)")
    _, _, e_base = metrics.end_to_end(base, spec)
    _, _, e_traced = metrics.end_to_end(traced, spec)
    print("tracing overhead (traced vs untraced run, base = untraced):")
    for k, b in e_base.items():
        t = e_traced[k]
        rel = f"{(t - b) / b:+.1%}" if b else "n/a"
        print(f"  {k:14s} untraced {b:10.4g}  traced {t:10.4g}  {rel}")
    return {"workload": name, "self_ms": totals, "wall_ms": wall,
            "closure": (sum(closes) / len(closes)) if closes else None,
            "untraced": e_base, "traced": e_traced}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--json")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    names = a.workload or sorted(run.load_spec()["workloads"])
    out = [report(n, a.seed, seconds) for n in names]
    if a.json:
        with open(a.json, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
