"""Metrics from one harness result (see src/Report.scala for its fields).

End-to-end metrics come from untraced units only. Per-layer metrics come
from the spans of traced units and the Spark work attributed to them.
"""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "layers.json")) as _fh:
    LAYERS = json.load(_fh)

# Every workload reports each of these. A unit of work is one registry
# query, one whole build cycle, or one interactive operation.
END_TO_END = {
    # median wall time of the set-ups in a run: Spark session starts, or
    # package loads for street_interactive
    "setup_s": "s",
    # largest heap in use after a full collection, over the run's checkpoints
    "live_heap_peak_mb": "MB",
    # queries, input edges (street_build) or operations per second of timed work
    "work_per_s": "1/s",
    # geometric mean time of one unit of work: unlike the median, it does
    # not jump from one operation kind to another of a fixed mix
    "gmean_ms": "ms",
}
WARM_UP = "warm-up"
FAMILIES = ("relational", "graph", "text", "llm", "stream", "geo", "storage")


def tail_level(n):
    """The highest whole percentile that leaves at least ten of n samples
    above it, capped at 99; None below 11 samples."""
    if n < 11:
        return None
    return min(99, (100 * (n - 10)) // n)


def percentile(xs, p):
    """Nearest-rank p-th percentile of xs."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover, in ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def timed(units, traced=False):
    """Units of the given kind that were timed (not warm-up runs)."""
    return [u for u in units if u["traced"] == traced and u["group"] != WARM_UP]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_query(units):
    """Query name -> median time of its timed runs."""
    runs = {}
    for u in units:
        runs.setdefault(u["kind"], []).append(u["s"])
    return {k: _median(v) for k, v in runs.items()}


def end_to_end(result):
    """The end-to-end metrics of BENCHMARK.json, from untraced units. A
    registry query's time is the median of its timed runs."""
    units = [u for u in timed(result["units"]) if u["ok"]]
    secs = [u["s"] for u in units]
    if not secs:
        return None
    if result["workload"] == "registry_mix":
        secs = list(per_query(units).values())
    work = len(secs)
    if result["workload"] == "street_build":
        work *= result["extra"]["edges"]
    return {
        "setup_s": _median(result["setup_s"]),
        "live_heap_peak_mb": max(result["live_heap_mb"]),
        "work_per_s": work / sum(secs),
        "gmean_ms": 1000 * math.exp(statistics.mean(math.log(x) for x in secs)),
    }


def workload_figures(result):
    """The workload's own user-facing figures, printed in the report."""
    units = timed(result["units"])
    ok = [u for u in units if u["ok"]]
    secs = [u["s"] for u in ok]
    n = len(units)
    fig = {"setup_s": (_median(result["setup_s"]), "s"),
           "fail_frac": ((n - len(ok)) / n if n else 1.0, "fraction"),
           "live_heap_peak_mb": (max(result["live_heap_mb"]), "MB")}
    level = tail_level(len(secs))
    w = result["workload"]
    if w == "registry_mix" and secs:
        med = list(per_query(ok).values())
        fig["registry_total_s"] = (sum(med), "s")
        fig["registry_q_p50_s"] = (_median(med), "s")
        level = tail_level(len(med))
        if level is not None:
            fig[f"registry_q_p{level}_s"] = (percentile(med, level), "s")
    elif w == "street_build" and ok:
        x = result["extra"]

        def rate(count, part):
            return count / _median([u["parts"][part] for u in ok])
        fig["build_edges_per_s"] = (rate(x["edges"], "build"), "1/s")
        fig["update_edges_per_s"] = (rate(x["updates"], "update"), "1/s")
        fig["export_edges_per_s"] = (rate(x["edges"], "export"), "1/s")
        fig["stored_bytes_per_input_byte"] = (x["stored_bytes"] / x["input_bytes"], "ratio")
    elif w == "street_interactive" and secs:
        fig["interactive_ops_per_s"] = (len(units) / result["loop_s"], "1/s")
        for layer, name in (("graph", "lookup"), ("spatial", "spatial"), ("route", "route")):
            xs = [u["s"] for u in ok if u["group"].startswith(layer + ".")]
            fig[f"{name}_p50_ms"] = (1000 * _median(xs), "ms")
        if level is not None:
            fig[f"interactive_p{level}_ms"] = (1000 * percentile(secs, level), "ms")
    fig["samples"] = (len(secs), "count")
    return fig


def per_layer(result):
    """Every per-layer metric of layers.json; 0 where the workload does not
    reach the layer."""
    spans = result["spans"]
    counts = result["counts"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, []))
        return out

    def count(ids, key):
        return sum(counts.get(str(j), {}).get(key, 0) for j in ids)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    own = self_times(spans)

    def total_s(name):
        """Self time of the layer's spans: nested spans count in their own layer."""
        return sum(own[s["id"]] for s in named(name)) / 1e9

    def tree(name):
        return [j for s in named(name) for j in subtree(s["id"])]

    roots = [s for s in spans if s["parent"] == 0]
    all_ids = list(by_id)
    traced = timed(result["units"], traced=True)
    n_units = max(1, len(roots))
    wall = sum(dur(s) for s in roots)
    jobs = count(all_ids, "jobs")
    run_s = count(all_ids, "executor_run_ms") / 1000
    m = {
        "spark.jobs": jobs / n_units,
        "spark.stages": count(all_ids, "stages") / n_units,
        "spark.tasks": count(all_ids, "tasks") / n_units,
        "spark.s_per_job": wall / jobs if jobs else 0.0,
        "spark.executor_run_s": run_s / n_units,
        "spark.executor_busy_frac": run_s / (wall * result["cores"]) if wall else 0.0,
        "spark.shuffle_write_bytes": count(all_ids, "shuffle_write_bytes") / n_units,
        "spark.spill_bytes": count(all_ids, "spill_bytes") / n_units,
        "spark.failed_tasks": count(all_ids, "failed_tasks"),
        "tables.read_jobs": count(all_ids, "tables_jobs"),
        "tables.read_s": count(all_ids, "tables_job_ms") / 1000,
        "queries.build_s": total_s("queries.build"),
        "queries.build_jobs": count(tree("queries.build"), "jobs"),
        "plans.plan_s": total_s("plans.plan"),
        "exec.action_s": total_s("exec.action"),
    }
    for f in FAMILIES:
        m[f"registry.{f}_s"] = sum(dur(s) for s in named(f"registry.{f}"))
        m[f"registry.{f}_jobs"] = count(tree(f"registry.{f}"), "jobs")

    cycles = max(1, len(named("build.cycle")))
    for name, key in (("ingest.read", "ingest.read_s"), ("store.save", "store.save_s"),
                      ("store.load", "store.load_s"), ("graph.update", "graph.update_s"),
                      ("store.resave", "store.resave_s"),
                      ("store.gpkg_export", "store.gpkg_export_s")):
        m[key] = total_s(name) / cycles
    m["ingest.jobs"] = count(tree("ingest.read"), "jobs") / cycles
    m["store.save_jobs"] = count(tree("store.save"), "jobs") / cycles
    m["store.load_tasks"] = count(tree("store.load"), "tasks") / cycles
    extra = result["extra"]
    m["store.bytes_written"] = extra.get("stored_bytes", 0.0)
    m["store.files_written"] = extra.get("files_written", 0.0)
    m["store.gpkg_bytes"] = extra.get("gpkg_bytes", 0.0)

    by_span = {}
    for s in roots:
        by_span.setdefault(s["name"], []).append(s)
    for layer, ops in (("graph", ("get_edge", "has_node", "successors", "predecessors")),
                       ("spatial", ("dwithin", "intersects", "nearest_k", "nodes_dwithin")),
                       ("route", ("shortest_path", "astar", "isochrone"))):
        ss = [s for op in ops for s in by_span.get(f"{layer}.{op}", [])]
        for op in ops:
            m[f"{layer}.{op}_ms"] = 1000 * _median([dur(s) for s in by_span.get(f"{layer}.{op}", [])])
        ids = [j for s in ss for j in subtree(s["id"])]
        calls = max(1, len(ss))
        per = {"graph": "graph.jobs_per_lookup", "spatial": "spatial.jobs_per_query",
               "route": "route.jobs_per_call"}[layer]
        m[per] = count(ids, "jobs") / calls
        if layer == "route":
            m["route.rows_read_per_call"] = count(ids, "records_read") / calls
        if layer == "spatial":
            returned = sum(int(u["note"] or 0) for u in traced if u["group"].startswith("spatial."))
            m["spatial.rows_read_per_result"] = (count(ids, "records_read") / returned
                                                 if returned else 0.0)
    m["tracing.overhead_frac"] = tracing_overhead(
        [u for u in result["units"] if u["group"] != WARM_UP])
    return m


def tracing_overhead(units):
    """Traced over untraced time of the same unit, less one.

    A traced run runs each unit twice in a row, the traced run first on
    every other unit. Whichever runs second finds warmer caches; averaging
    the log-ratio within each order and then across both orders cancels
    that factor when the run has pairs in both orders.
    """
    by_order = {True: [], False: []}
    for a, b in zip(units[::2], units[1::2]):
        if a["ok"] and b["ok"] and a["kind"] == b["kind"] and a["traced"] != b["traced"]:
            on, off = (a, b) if a["traced"] else (b, a)
            by_order[a["traced"]].append(math.log(on["s"] / off["s"]))
    means = [statistics.mean(v) for v in by_order.values() if v]
    return math.exp(statistics.mean(means)) - 1 if means else 0.0


def summarize(result, traced):
    units = result["units"]
    failed = sum(1 for u in units if not u["ok"])
    if traced:
        metrics = per_layer(result)
        units_of = {l["name"]: l["unit"] for l in LAYERS}
    else:
        metrics = end_to_end(result) or {}
        units_of = END_TO_END
    final = {"correct": failed == 0 and bool(metrics), "attempted": len(units),
             "failed": failed,
             "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()}}
    return {"final": final, "figures": workload_figures(result)}


def report_lines(result, out):
    lines = [f"# workload {result['workload']} on {result['cores']} cores"]
    for k, (v, unit) in out["figures"].items():
        lines.append(f"{k:32s} {v:14.6g} {unit}")
    for u in result["units"]:
        if not u["ok"]:
            lines.append(f"FAILED {u['kind']} ({u['group']}): {u['err']}")
    return lines
