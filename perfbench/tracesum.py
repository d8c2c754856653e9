#!/usr/bin/env python3
"""Per-layer metrics and self times from a traced run.

The JVM records harness spans (op -> layer call) and Spark listener events
(SQL executions with Catalyst phase times, jobs, stages). This module
builds one tree from them, attaching each SQL execution to the innermost
span containing its start and each job to its execution (or, for jobs run
outside SQL, to the innermost span containing its start), and derives:

  layer_metrics(result, cores)   the per_layer metrics of BENCHMARK.json
  self_times(result)             ms of self time per layer over the ops

A span's self time is its duration minus the part of it its children
cover. Layers: op (the benchmark's own glue), model / ops / ops.index /
expr (time in a public call outside any Spark action), catalyst (an SQL
execution outside its jobs: planning, AQE re-planning, result handling)
and scheduler (job intervals: stages and tasks).

    python3 perfbench/tracesum.py TRACED.json [UNTRACED.json]

prints the self-time table, and the tracing overhead (median op wall
traced / untraced) when an untraced result is given.
"""
import json
import statistics
import sys


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def build_tree(r):
    """Nodes: dicts with layer, name, op, start, end, children (list)."""
    t = r["trace"]
    nodes = []
    by_id = {}
    for s in t["spans"]:
        n = {"layer": s["layer"], "name": s["name"], "op": s["op"],
             "start": s["start_ms"], "end": s["end_ms"], "attrs": s["attrs"],
             "children": [], "parent": s["parent"]}
        by_id[s["id"]] = n
        nodes.append(n)
    for n in nodes:
        if n["parent"] in by_id:
            by_id[n["parent"]]["children"].append(n)
    spans = sorted(nodes, key=lambda n: n["start"])

    def innermost(ts):
        best = None
        for n in spans:
            if n["start"] <= ts <= n["end"] and (
                    best is None or n["end"] - n["start"] < best["end"] - best["start"]):
                best = n
        return best

    execs = {}
    for e in t["executions"]:
        n = {"layer": "catalyst", "name": f"exec.{e['exec']}", "start": e["start_ms"],
             "end": e["end_ms"], "attrs": e, "children": []}
        p = innermost(e["start_ms"])
        n["op"] = p["op"] if p else -1
        if p:
            p["children"].append(n)
        execs[e["exec"]] = n
    stages = {s["stage"]: s for s in t["stages"]}
    for j in t["jobs"]:
        n = {"layer": "scheduler", "name": f"job.{j['job']}", "start": j["start_ms"],
             "end": j["end_ms"], "children": [],
             "stages": [stages[s] for s in j["stages"] if s in stages]}
        p = execs.get(j["exec"]) or innermost(j["start_ms"])
        n["op"] = p["op"] if p else -1
        if p:
            p["children"].append(n)
    # op -1 marks warm-up calls outside the timed loop
    return [n for n in nodes if n["layer"] == "op" and n["op"] >= 0]


def _walk(n):
    yield n
    for c in n["children"]:
        yield from _walk(c)


def self_times(r):
    """{layer: self ms summed over all ops}. Leaf spans can overlap (AQE
    runs a query's stages as concurrent jobs), so leaves of one layer under
    one parent count as the union of their intervals."""
    out = {}

    def add(layer, ms):
        out[layer] = out.get(layer, 0.0) + max(ms, 0.0)
    for op in build_tree(r):
        for n in _walk(op):
            kids = [(c["start"], c["end"]) for c in n["children"]]
            if kids:
                add(n["layer"], (n["end"] - n["start"]) - _union_ms(kids, n["start"], n["end"]))
            leaves = {}
            for c in n["children"]:
                if not c["children"]:
                    leaves.setdefault(c["layer"], []).append((c["start"], c["end"]))
            for layer, iv in leaves.items():
                add(layer, _union_ms(iv, n["start"], n["end"]))
            if n is op and not kids:
                add(n["layer"], n["end"] - n["start"])
    return out


def _med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(r, cores):
    ops = build_tree(r)
    m = dict(r.get("layer", {}))
    per_op = []
    execs = []
    for op in ops:
        nodes = list(_walk(op))
        jobs = [n for n in nodes if n["layer"] == "scheduler"]
        stages = [s for j in jobs for s in j["stages"]]
        execs += [n["attrs"] for n in nodes if n["layer"] == "catalyst"]
        wall = op["end"] - op["start"]
        per_op.append({
            "wall": wall,
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks_ended"] for s in stages),
            "gap": wall - _union_ms([(j["start"], j["end"]) for j in jobs],
                                    op["start"], op["end"]),
            "single": sum(1 for s in stages if s["tasks"] == 1),
            "exec": sum(s["exec_run_ms"] for s in stages),
            "shr": sum(s["shuffle_read_bytes"] for s in stages),
            "shw": sum(s["shuffle_write_bytes"] for s in stages),
            "spill": sum(s["spill_bytes"] for s in stages),
        })
    mb = 1048576.0
    if per_op:
        mean = lambda k: statistics.fmean(o[k] for o in per_op)
        m.update({
            "scheduler.jobs": mean("jobs"),
            "scheduler.stages": mean("stages"),
            "scheduler.tasks": mean("tasks"),
            "scheduler.driver_gap_ms": mean("gap"),
            "scheduler.single_task_stages": mean("single"),
            "scheduler.exec_run_ms": mean("exec"),
            "scheduler.core_busy_frac":
                sum(o["exec"] for o in per_op) / (sum(o["wall"] for o in per_op) * cores),
            "scheduler.shuffle_read_mb": mean("shr") / mb,
            "scheduler.shuffle_write_mb": mean("shw") / mb,
            "scheduler.spill_mb": mean("spill") / mb,
        })
    if execs:
        for k in ("analysis_ms", "optimizer_ms", "planning_ms", "plan_nodes"):
            m[f"catalyst.{k}"] = statistics.fmean(e[k] for e in execs)

    # harness spans by name, over the ops
    spans = {}
    for op in ops:
        for n in _walk(op):
            if n["layer"] not in ("op", "catalyst", "scheduler"):
                spans.setdefault(n["name"], []).append(n)
    dur = lambda name: _med(n["end"] - n["start"] for n in spans.get(name, []))
    attr = lambda name, k: _med(n["attrs"][k] for n in spans.get(name, [])
                                if k in n["attrs"])
    for stage in ("gate", "exact_dedup", "candidates", "token_count"):
        if stage in spans:
            m[f"ops.{stage}_ms"] = dur(stage)
            m[f"ops.{stage}.rows_in"] = attr(stage, "rows_in")
            m[f"ops.{stage}.rows_out"] = attr(stage, "rows_out")
    if "candidates.yield" in spans:
        cand = attr("candidates.yield", "candidate_pairs")
        m["ops.candidate_pairs"] = cand
        m["ops.pair_yield"] = attr("candidates.yield", "pairs_above_theta") / cand if cand else 0.0
    if "admit" in spans:
        m["ops.admit_ms"] = dur("admit")
        rin = attr("admit", "rows_in")
        m["ops.admit_yield"] = attr("admit", "rows_out") / rin if rin else 0.0
        m["ops.cluster_dedup_ms"] = dur("cluster_dedup")
    if "append" in spans:
        m["ops.index.append_ms"] = dur("append")
        # build and compaction run between ops: every recorded span counts
        allspans = r["trace"]["spans"]
        for name in ("build", "compact"):
            m[f"ops.index.{name}_ms"] = _med(s["end_ms"] - s["start_ms"]
                                             for s in allspans if s["name"] == name)
        admitted = sum(o["admitted"] for o in r["ops"])
        m["ops.index.bytes_written_per_doc"] = (
            sum(o["appended_bytes"] for o in r["ops"]) / admitted if admitted else 0.0)
        m["ops.index.bytes_per_doc_pre_compact"] = (
            r["index_bytes_pre_compact"] / r["store_rows"])
        m["ops.index.files"] = r["index_files_pre_compact"]

    nops = max(len(r["ops"]), 1)
    m["jvm.gc_ms"] = r["heap"]["gc_ms"] / nops
    cal = r["cal"]
    m["host.cal_s"] = _med([cal["before"][0], cal["after"][0]])
    m["host.cal_par_s"] = _med([cal["before"][1], cal["after"][1]])
    return m


def main():
    traced = json.load(open(sys.argv[1]))
    st = self_times(traced)
    total = sum(st.values())
    wl = sys.argv[1]
    print(f"self time per layer over {len(traced['ops'])} ops ({wl}):")
    for layer, ms in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:12s} {ms:10.1f} ms  {100 * ms / total:5.1f}%")
    if len(sys.argv) > 2:
        untraced = json.load(open(sys.argv[2]))
        tw = statistics.median(o["wall_s"] for o in traced["ops"])
        uw = statistics.median(o["wall_s"] for o in untraced["ops"])
        print(f"tracing overhead: median op wall {tw:.3f} s traced / "
              f"{uw:.3f} s untraced = {tw / uw:.3f}")


if __name__ == "__main__":
    main()
