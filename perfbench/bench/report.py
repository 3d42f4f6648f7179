"""Reduce one harness run's raw records to the benchmark's metrics.

End-to-end metrics come from untraced runs. A traced run attributes the
Spark listener events to ops (by the `pb:<op>` job description), builds
each op's span tree, and reports per-layer metrics and self times.
"""

import json
import os
import re

from bench import opstream, stats

# name -> unit; every workload reports every metric of both lists
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms", "heap_after_gc_mb": "MB",
}
PATHS = ["noop", "incremental", "incremental_multi", "incremental_delete",
         "incremental_update", "partial", "full"]
DELTA_PATHS = {"incremental", "incremental_multi", "incremental_delete", "incremental_update"}
LAYERS = ["driver", "client", "jdbc", "parser", "catalyst", "exec", "store", "matview",
          "streaming", "operators"]
STORE_WRITES = ["insert", "put", "update", "delete", "rollup", "compact"]
PHASE_LAYER = {"parsing": "parser", "analysis": "catalyst", "optimization": "catalyst",
               "planning": "catalyst"}


def _per_layer_units():
    u = {
        "trace.ops_per_s": "1/s", "trace.latency_p50_ms": "ms", "latency_tail_ms": "ms",
        "read_p50_ms": "ms", "read_tail_ms": "ms", "write_p50_ms": "ms", "write_tail_ms": "ms",
        "fail_ratio": "ratio", "rows_ingested_per_s": "rows/s", "visible_lag_p50_ms": "ms",
        "docs_per_s": "docs/s",
        "store.bytes_per_row": "B", "store.batches": "count", "store.resident_ratio": "ratio",
        "parser.parse_ms": "ms", "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
        "catalyst.plan_share": "ratio",
        "exec.jobs_per_op": "count", "exec.stages_per_op": "count", "exec.tasks_per_op": "count",
        "exec.stage_busy_ms": "ms", "exec.driver_gap_ms": "ms", "exec.executor_run_ms": "ms",
        "exec.executor_cpu_ms": "ms", "exec.max_task_ms": "ms", "exec.scheduler_delay_ms": "ms",
        "exec.cores_busy_ratio": "ratio", "exec.shuffle_read_bytes": "B",
        "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
        "exec.records_read_per_row_returned": "ratio",
        "store.jobs_per_write": "count",
        "matview.refresh_ms": "ms", "matview.refresh_jobs": "count",
        "matview.delta_path_ratio": "ratio", "matview.rewrite_hit_ratio": "ratio",
        "streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.trigger_overhead_ms": "ms",
        "jdbc.roundtrip_ms": "ms", "jdbc.protocol_ms": "ms", "jdbc.connect_ms": "ms",
        "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    }
    for w in STORE_WRITES:
        u[f"store.{w}_ms"] = "ms"
    for p in PATHS:
        u[f"matview.refresh_ms.{p}"] = "ms"
        u[f"matview.refreshes.{p}"] = "count"
    for o in opstream.OPERATORS:
        u[f"operators.{o}.build_ms"] = "ms"
        u[f"operators.{o}.exec_ms"] = "ms"
        u[f"operators.{o}.build_share"] = "ratio"
        u[f"operators.{o}.build_jobs"] = "count"
    for layer in LAYERS:
        u[f"selftime.{layer}_ms"] = "ms"
    return u


PER_LAYER = _per_layer_units()
TAG = re.compile(r"pb:(-?\d+)")


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _dur(o):
    return o["end"] - o["start"]


def _tag(text):
    m = TAG.search(text or "")
    return int(m.group(1)) if m else None


def workload_figures(result, workload):
    """Figures every run can compute from its op records alone."""
    ops = result["ops"]
    measured = [o for o in ops if not o["kind"].startswith("check:")]
    ok = [o for o in measured if o["ok"]]
    # single-client loops also run checks between ops: count op time only
    window = (result["wall_s"] if opstream.CLIENTS[workload] > 1
              else sum(_dur(o) for o in measured) / 1000.0)
    window = max(window, 1e-9)
    lat = [_dur(o) for o in ok]
    reads = [_dur(o) for o in ok if not o["write"]]
    writes = [_dur(o) for o in ok if o["write"]]
    lags = [o["info"][k] for o in ok for k in ("lag_cdc_ms", "lag_sql_ms") if k in o["info"]]
    failed = [o for o in ops if not o["ok"]]
    tail = stats.tail(lat)
    return {
        "ops": ops, "measured": measured, "ok": ok, "window": window, "failed": failed,
        "tail_pct": tail[0] if tail else 100.0,
        "setup_s": result["session_s"] + stats.median(result["load_s"]) + result["warmup_s"],
        "ops_per_s": len(ok) / window,
        "latency_p50_ms": stats.median(lat),
        "latency_tail_ms": stats.tail_value(lat),
        "heap_after_gc_mb": result["heap_after_gc_mb"],
        "read_p50_ms": stats.median(reads), "read_tail_ms": stats.tail_value(reads),
        "write_p50_ms": stats.median(writes), "write_tail_ms": stats.tail_value(writes),
        "fail_ratio": len(failed) / max(1, len(ops)),
        "rows_ingested_per_s": (sum(o["rows"] for o in ok) / window
                                if workload == "ingest" else 0.0),
        "visible_lag_p50_ms": stats.median(lags),
        "docs_per_s": sum(o["info"].get("docs", 0.0) for o in ok) / window,
    }


def _store_figures(result):
    tables = result["store"].values()
    rows = sum(t["rows"] for t in tables)
    size = sum(t["bytes"] for t in tables)
    return {
        "store.bytes_per_row": size / rows if rows else 0.0,
        "store.batches": float(sum(t["batches"] for t in tables)),
        "store.resident_ratio": (sum(t["resident_bytes"] for t in tables) / size) if size else 0.0,
    }


def attribute(result, op_ids):
    """Map listener events to ops. Returns per-op lists of executions,
    jobs, stages and phases (each as dicts with start/end in epoch ms)."""
    per = {i: {"execs": [], "jobs": [], "stages": [], "phases": []} for i in op_ids}
    exec_op = {}
    execs = {e["id"]: e for e in result.get("executions", [])}
    for e in execs.values():
        op = _tag(e["desc"])
        if op is None and e["root"] in execs:
            op = _tag(execs[e["root"]]["desc"])
        if op in per:
            exec_op[e["id"]] = op
            if e["end"] > 0:
                per[op]["execs"].append(e)
    stage_job = {}
    for j in result.get("jobs", []):
        op = _tag(j["desc"])
        if op is None and j["exec"]:
            op = exec_op.get(int(j["exec"]))
        if op in per and j["end"] > 0:
            per[op]["jobs"].append(j)
            for s in j["stages"]:
                stage_job[s] = j
    for s in result.get("stages", []):
        j = stage_job.get(s["id"])
        if j is not None and s["submit"] > 0 and s["complete"] > 0:
            op = _tag(j["desc"])
            if op is None:
                op = exec_op.get(int(j["exec"])) if j["exec"] else None
            if op in per:
                per[op]["stages"].append(dict(s, job=j["id"]))
    for q in result.get("phases", []):
        op = exec_op.get(q["exec"])
        if op in per:
            for name, (s, e) in q["phases"].items():
                if name in PHASE_LAYER and e >= s:
                    per[op]["phases"].append({"name": name, "start": s, "end": e,
                                              "exec": q["exec"]})
    return per


def span_tree(op, root_layer, harness, ev):
    """Every span of one op with its parent. Listener spans hang under
    the innermost harness span that contains them (1 ms slack for the
    listener's millisecond clock), stages under their job, jobs under
    their SQL execution."""
    nodes = {0: {"layer": root_layer, "name": op["kind"], "start": op["start"],
                 "end": op["end"], "parent": None}}
    hs = sorted(harness, key=lambda s: s["end"] - s["start"])

    def container(s, e, after=-1):
        # hs is sorted by duration: a harness span's parent comes after it
        for i in range(after + 1, len(hs)):
            if hs[i]["start"] - 1 <= s and e <= hs[i]["end"] + 1:
                return ("h", i)
        return None

    ids = {}
    for i, h in enumerate(hs):
        ids[("h", i)] = len(nodes)
        nodes[len(nodes)] = {"layer": h["layer"], "name": h["name"], "start": h["start"],
                             "end": h["end"], "parent": None,
                             "_c": container(h["start"], h["end"], i)}
    for e in ev["execs"]:
        ids[("x", e["id"])] = len(nodes)
        nodes[len(nodes)] = {"layer": "exec", "name": "execution", "start": e["start"],
                             "end": e["end"], "parent": None, "_c": container(e["start"], e["end"])}
    for p in ev["phases"]:
        nodes[len(nodes)] = {"layer": PHASE_LAYER[p["name"]], "name": p["name"],
                             "start": p["start"], "end": p["end"], "parent": None,
                             "_c": container(p["start"], p["end"])}
    for j in ev["jobs"]:
        ids[("j", j["id"])] = len(nodes)
        x = ("x", int(j["exec"])) if j["exec"] else None
        nodes[len(nodes)] = {"layer": "exec", "name": "job", "start": j["start"], "end": j["end"],
                             "parent": None,
                             "_c": x if x in ids else container(j["start"], j["end"])}
    for s in ev["stages"]:
        nodes[len(nodes)] = {"layer": "exec", "name": "stage", "start": s["submit"],
                             "end": s["complete"], "parent": None, "_c": ("j", s["job"])}
    for n in list(nodes.values())[1:]:
        c = n.pop("_c")
        n["parent"] = ids.get(c, 0) if c is not None else 0
    # a span counts only inside its parent (an execution can end after
    # the client has its reply): clip top-down
    done = {0}

    def clip_to_parent(i):
        n = nodes[i]
        if i not in done:
            clip_to_parent(n["parent"])
            p = nodes[n["parent"]]
            n["start"] = min(max(n["start"], p["start"]), p["end"])
            n["end"] = max(min(n["end"], p["end"]), n["start"])
            done.add(i)

    for i in nodes:
        clip_to_parent(i)
    return nodes


def per_layer(result, fig, workload, cores):
    measured = fig["measured"]
    by_id = {o["id"]: o for o in measured}
    ev = attribute(result, by_id.keys())
    spans_by_op = {}
    for s in result.get("spans", []):
        if s["op"] in by_id:
            spans_by_op.setdefault(s["op"], []).append(s)
    n = max(1, len(measured))
    m = {k: 0.0 for k in PER_LAYER}
    m["trace.ops_per_s"] = fig["ops_per_s"]
    m["trace.latency_p50_ms"] = fig["latency_p50_ms"]
    for k in ("latency_tail_ms", "read_p50_ms", "read_tail_ms", "write_p50_ms", "write_tail_ms", "fail_ratio",
              "rows_ingested_per_s", "visible_lag_p50_ms", "docs_per_s"):
        m[k] = fig[k]
    m.update(_store_figures(result))

    tot = {k: 0.0 for k in ("parse", "analysis", "optimization", "planning", "jobs", "stages",
                            "tasks", "busy", "gap", "run", "cpu", "maxtask", "sched", "sr",
                            "sw", "spill", "records", "rows", "wall")}
    self_by_layer = {layer: 0.0 for layer in LAYERS}
    trees = []
    root_layer = "jdbc" if workload == "serving" else "driver"
    engine_free = []
    for o in measured:
        e = ev[o["id"]]
        ph = {k: 0.0 for k in PHASE_LAYER}
        for p in e["phases"]:
            ph[p["name"]] += p["end"] - p["start"]
        tot["parse"] += ph["parsing"]
        tot["analysis"] += ph["analysis"]
        tot["optimization"] += ph["optimization"]
        tot["planning"] += ph["planning"]
        wall = _dur(o)
        tot["wall"] += wall
        intervals = [(s["submit"], s["complete"]) for s in e["stages"]]
        tot["busy"] += stats.union_length(stats.clip(intervals, o["start"], o["end"]))
        tot["gap"] += stats.driver_gap(wall, o["start"], intervals, sum(ph.values()))
        tot["jobs"] += len(e["jobs"])
        tot["stages"] += len(e["stages"])
        for s in e["stages"]:
            tot["tasks"] += s["tasks"]
            tot["run"] += s["run_ms"]
            tot["cpu"] += s["cpu_ms"]
            tot["sched"] += s["sched_delay_ms"]
            tot["sr"] += s["shuffle_read"]
            tot["sw"] += s["shuffle_write"]
            tot["spill"] += s["spill"]
            tot["records"] += s["records_read"]
        tot["maxtask"] += max([s["max_task_ms"] for s in e["stages"]] or [0])
        tot["rows"] += o["rows"]
        if workload == "serving":
            engine = [(p["start"], p["end"]) for p in e["phases"]] + \
                     [(x["start"], x["end"]) for x in e["execs"]]
            engine_free.append(wall - stats.union_length(stats.clip(engine, o["start"], o["end"])))
        tree = span_tree(o, root_layer, spans_by_op.get(o["id"], []), e)
        st = stats.self_times({i: (v["parent"], v["start"], v["end"]) for i, v in tree.items()})
        for i, v in tree.items():
            v["self"] = st[i]
            self_by_layer[v["layer"]] = self_by_layer.get(v["layer"], 0.0) + st[i]
        trees.append((o["id"], tree))

    m["parser.parse_ms"] = tot["parse"] / n
    m["catalyst.analysis_ms"] = tot["analysis"] / n
    m["catalyst.optimization_ms"] = tot["optimization"] / n
    m["catalyst.planning_ms"] = tot["planning"] / n
    plan = tot["parse"] + tot["analysis"] + tot["optimization"] + tot["planning"]
    m["catalyst.plan_share"] = plan / tot["wall"] if tot["wall"] else 0.0
    m["exec.jobs_per_op"] = tot["jobs"] / n
    m["exec.stages_per_op"] = tot["stages"] / n
    m["exec.tasks_per_op"] = tot["tasks"] / n
    m["exec.stage_busy_ms"] = tot["busy"] / n
    m["exec.driver_gap_ms"] = tot["gap"] / n
    m["exec.executor_run_ms"] = tot["run"] / n
    m["exec.executor_cpu_ms"] = tot["cpu"] / n
    m["exec.max_task_ms"] = tot["maxtask"] / n
    m["exec.scheduler_delay_ms"] = tot["sched"] / n
    m["exec.cores_busy_ratio"] = tot["run"] / (tot["busy"] * cores) if tot["busy"] else 0.0
    m["exec.shuffle_read_bytes"] = tot["sr"] / n
    m["exec.shuffle_write_bytes"] = tot["sw"] / n
    m["exec.spill_bytes"] = tot["spill"] / n
    m["exec.records_read_per_row_returned"] = tot["records"] / max(1.0, tot["rows"])

    # harness spans: store writes, matview refreshes, operators
    all_spans = [s for o in measured for s in spans_by_op.get(o["id"], [])]
    jobs_in = {}
    for s in all_spans:
        js = ev[s["op"]]["jobs"]
        jobs_in[id(s)] = sum(1 for j in js if s["start"] - 1 <= j["start"] <= s["end"] + 1)
    writes = {w: [] for w in STORE_WRITES}
    for s in all_spans:
        if s["layer"] == "store" and s["name"] in writes:
            writes[s["name"]].append(_dur(s))
    for o in measured:
        kind = o["kind"]
        if workload == "serving" and o["ok"] and kind.startswith("write_"):
            writes[kind[len("write_"):]].append(_dur(o))
    for w in STORE_WRITES:
        m[f"store.{w}_ms"] = _mean(writes[w])
    store_spans = [s for s in all_spans if s["layer"] == "store"]
    m["store.jobs_per_write"] = _mean([jobs_in[id(s)] for s in store_spans])

    refreshes = [s for s in all_spans if s["layer"] == "matview"]
    m["matview.refresh_ms"] = _mean([_dur(s) for s in refreshes])
    m["matview.refresh_jobs"] = _mean([jobs_in[id(s)] for s in refreshes])
    for p in PATHS:
        mine = [_dur(s) for s in refreshes if s["name"] == f"refresh.{p}"]
        m[f"matview.refresh_ms.{p}"] = _mean(mine)
        m[f"matview.refreshes.{p}"] = float(len(mine))
    m["matview.delta_path_ratio"] = (
        sum(1 for s in refreshes if s["name"][len("refresh."):] in DELTA_PATHS) / len(refreshes)
        if refreshes else 0.0)
    eligible = sum(o["info"].get("view_eligible", 0.0) for o in measured)
    served = sum(o["info"].get("view_served", 0.0) for o in measured)
    m["matview.rewrite_hit_ratio"] = served / eligible if eligible else 0.0

    prog = [p for p in result.get("progress", []) if p["op"] in by_id]
    trig = [p["durations"].get("triggerExecution", 0) for p in prog]
    add = [p["durations"].get("addBatch", 0) for p in prog]
    m["streaming.batch_ms"] = _mean(trig)
    m["streaming.add_batch_ms"] = _mean(add)
    m["streaming.trigger_overhead_ms"] = _mean([t - a for t, a in zip(trig, add)])

    if workload == "serving":
        m["jdbc.roundtrip_ms"] = _mean([_dur(o) for o in measured])
        m["jdbc.protocol_ms"] = _mean(engine_free)
        m["jdbc.connect_ms"] = result["counters"].get("jdbc.connect_ms", 0.0)

    for op in opstream.OPERATORS:
        build = [s for s in all_spans if s["name"] == f"{op}.build"]
        execs = [s for s in all_spans if s["name"] == f"{op}.exec"]
        b, x = sum(_dur(s) for s in build), sum(_dur(s) for s in execs)
        m[f"operators.{op}.build_ms"] = _mean([_dur(s) for s in build])
        m[f"operators.{op}.exec_ms"] = _mean([_dur(s) for s in execs])
        m[f"operators.{op}.build_share"] = b / (b + x) if b + x else 0.0
        m[f"operators.{op}.build_jobs"] = _mean([jobs_in[id(s)] for s in build])

    m["jvm.gc_ms"] = result["gc_ms"]
    m["jvm.gc_count"] = result["gc_count"]
    for layer in LAYERS:
        m[f"selftime.{layer}_ms"] = self_by_layer.get(layer, 0.0) / n
    return m, trees, self_by_layer


def reduce(result, args, cores, out_dir):
    workload = args.workload
    fig = workload_figures(result, workload)
    lines = []
    for o in fig["failed"]:
        lines.append(f"FAILED op {o['id']} ({o['kind']}): {o['error']}")
    n_measured = len(fig["measured"])
    lines.append(f"{workload} seed={args.seed}: {n_measured} ops, {len(fig['failed'])} failed, "
                 f"latency_tail_ms = {fig['latency_tail_ms']:.3f} "
                 f"(p{fig['tail_pct']:.1f} of {len(fig['ok'])} samples), "
                 f"fail_ratio={fig['fail_ratio']:.4f}")
    lines.append(f"  session {result['session_s']:.2f} s, loads " +
                 ", ".join(f"{x:.2f}" for x in result["load_s"]) +
                 f" s, warm-up {result['warmup_s']:.2f} s")
    if args.trace:
        metrics, trees, self_by_layer = per_layer(result, fig, workload, cores)
        units = PER_LAYER
        total = sum(self_by_layer.values()) or 1.0
        lines.append(f"{'layer':<10} {'self ms/op':>11} {'share':>7}")
        for layer, v in sorted(self_by_layer.items(), key=lambda kv: -kv[1]):
            lines.append(f"{layer:<10} {v / max(1, n_measured):>11.3f} {100 * v / total:>6.1f}%")
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{workload}-seed{args.seed}-spans.json")
            with open(path, "w") as f:
                json.dump([{"op": op, "id": i, **v} for op, t in trees for i, v in t.items()], f)
            lines.append(f"spans written to {os.path.relpath(path)}")
    else:
        metrics = {k: fig[k] for k in END_TO_END}
        units = END_TO_END
        extra = ["read_p50_ms", "write_p50_ms", "rows_ingested_per_s", "visible_lag_p50_ms",
                 "docs_per_s"]
        lines.append("  " + ", ".join(f"{k}={fig[k]:.3f}" for k in extra if fig[k]))
        kinds = {}
        for o in fig["ok"]:
            kinds.setdefault(o["kind"], []).append(_dur(o))
        lines.append("  p50 ms by kind: " + ", ".join(
            f"{k}={stats.median(v):.1f} (n={len(v)})" for k, v in sorted(kinds.items())))
        if result["counters"]:
            lines.append("  " + ", ".join(f"{k}={v:g}" for k, v in sorted(result["counters"].items())))
    for k in units:
        lines.append(f"  {k} = {metrics[k]:.4f} {units[k]}")
    failed = len(fig["failed"])
    out = {"correct": failed == 0 and n_measured > 0, "attempted": len(fig["ops"]),
           "failed": failed,
           "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    return {"lines": lines, "result": out}
