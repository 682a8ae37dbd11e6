"""Per-layer metrics of a traced run.

The harness records spans around its own calls into each layer (`tick`,
`ingest.*`, `sources.*`, `sinks.*`, `llm.*`) and, while a tick is traced,
Spark's SQL executions, Catalyst phases, jobs and stages. This module
links them into one tree,

    run -> tick -> layer call -> SQL execution -> {analysis, optimization,
    planning}, job -> stage

and reduces each traced tick to the per-layer metrics; a metric is the
median over traced ticks unless it is a store total (the last tick's).
Jobs and SQL executions belong to the tick whose job group they carry; an
execution's parent is the innermost layer call open when it started.

Spark runs a DataFrame lazily, so most of a layer's work does not run
inside the harness's call into that layer: on the sync workloads the
calls only build plans, and the one write at the end runs the whole
pipeline. The time metrics therefore give each stage to the layers whose
work its tasks ran (`stage_layers`, from the plan operators whose SQL
metrics the tasks updated), and split the tick's wall time among the
layers (`wall_split`): an instant during which stages run belongs to their
layers; an instant inside an SQL execution with no stage running is Spark's
driver work; any other instant belongs to the innermost layer call open
then (its own driver-side work: plan building, eager analysis, file
listing, renames).

Limits: operators Spark fuses into one stage cannot be timed apart, so on
the sync workloads ingest's parse and slice count with the scan of the
landed pages (ingest), and upsert's window with the parquet write (sinks);
only the upsert's sort has a time of its own. `catalyst.*` covers the
queries Spark executed; the eager analysis of a DataFrame built inside a
layer call is driver time of that call.
"""
import json
import statistics

PHASES = ("analysis", "optimization", "planning")


def _load(path):
    recs = {"span": [], "job": [], "stage": [], "sql": [], "qe": []}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs[r["t"]].append(r)
    return recs


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _under(path, store):
    return bool(path) and path.replace("file://", "").replace("file:", "").startswith(store)


def stage_layers(workload, stage, sinks_write):
    """The layers whose work a stage ran, each with its share of the
    stage's task time.

    Sync: a task that scans only the stored history is sources; any other
    task before the write (the scan of the landed pages with the parse and
    slice fused into it, the watermark's aggregate) is ingest. In the write
    stage, the upsert's sort is ingest and the rest (its window, fused with
    the parquet write) is sinks. Dedup: a stage of a write into the merged
    band store is sinks, anything else is IncrementalDedup's own work."""
    if not workload.startswith("sync_"):
        return {"sinks" if sinks_write else "llm": 1.0}
    if any(n.startswith("Execute InsertInto") for n in stage["nodes"]):
        sort = min(stage["timings_ms"].get("Sort/sort time", 0), stage["run_ms"])
        parts = {"ingest": sort, "sinks": stage["run_ms"] - sort}
    else:
        parts = {}
        for scans, ms in stage["run_ms_by_scan"].items():
            layer = "sources" if scans == "Scan parquet" else "ingest"
            parts[layer] = parts.get(layer, 0) + ms
    total = sum(parts.values())
    if not total:
        return {"sinks": 1.0} if "sinks" in parts else {"ingest": 1.0}
    return {k: v / total for k, v in parts.items() if v}


def build_tree(result):
    """All spans of the traced ticks as dicts with id, parent, name, kind,
    start/end in seconds since the epoch, and the tick index. Stages carry
    the layers whose work they ran."""
    recs = _load(result["trace_file"])
    harness = {s["id"]: s for s in recs["span"]}
    ticks = {s["attrs"]["i"]: s for s in recs["span"] if s["name"] == "tick"}
    qe = {q["id"]: q for q in recs["qe"]}
    store = result.get("merge_store")
    out = [{"id": "run", "parent": None, "name": "run", "kind": "run",
            "start": min((s["start_us"] for s in recs["span"]), default=0) / 1e6,
            "end": max((s["end_us"] for s in recs["span"]), default=0) / 1e6}]

    def tick_of(span):
        while span["name"] != "tick":
            span = harness[span["parent"]]
        return span["attrs"]["i"]

    for s in recs["span"]:
        out.append({"id": f"h{s['id']}", "parent": f"h{s['parent']}" if s["parent"] else "run",
                    "name": s["name"], "kind": "tick" if s["name"] == "tick" else "layer",
                    "start": s["start_us"] / 1e6, "end": s["end_us"] / 1e6, "tick": tick_of(s),
                    "attrs": s["attrs"]})
    calls = {i: [s for s in out if s["kind"] == "layer" and s["tick"] == i] for i in ticks}

    def nesting(span):
        return span["start"], -span["end"]

    def group_tick(g):
        return int(g[3:]) if g.startswith("op-") and int(g[3:]) in ticks else None

    # The workload's own code merges into `merge_store` through the sinks
    # layer (IncrementalDedup.tick ends with Sinks.mergeByKeyBucket). That
    # call is marked from its first write into the store to the end of the
    # layer call it runs in.
    sinks_sql = {q["id"] for q in recs["sql"] if store and _under(q["write_path"], store)}
    for i in ticks:
        starts = [q["start_ms"] / 1e3 for q in recs["sql"]
                  if q["id"] in sinks_sql and group_tick(q["group"]) == i]
        if not starts:
            continue
        t = min(starts)
        host = max((c for c in calls[i] if c["start"] <= t <= c["end"]), key=nesting)
        span = {"id": f"{host['id']}.merge", "parent": host["id"], "name": "sinks.mergeByKeyBucket",
                "kind": "layer", "start": t, "end": host["end"], "tick": i, "attrs": {}}
        out.append(span)
        calls[i].append(span)

    def innermost(i, t_s):
        inside = [s for s in calls.get(i, []) if s["start"] <= t_s <= s["end"]]
        best = max(inside, key=nesting, default=None)
        return best["id"] if best else f"h{ticks[i]['id']}"

    sql_parent = {}
    for q in recs["sql"]:
        i = group_tick(q["group"])
        if i is None:
            continue
        sid = f"q{q['id']}"
        sql_parent[q["id"]] = sid
        out.append({"id": sid, "parent": innermost(i, q["start_ms"] / 1e3), "name": "sql",
                    "kind": "sql", "start": q["start_ms"] / 1e3, "end": q["end_ms"] / 1e3,
                    "tick": i, "attrs": {"write": q["write"], "write_path": q["write_path"]}})
        for ph, (s, e) in qe.get(q["qe"], {}).get("phases", {}).items():
            if ph in PHASES:
                out.append({"id": f"{sid}.{ph}", "parent": sid, "name": f"catalyst.{ph}",
                            "kind": "phase", "start": s / 1e3, "end": e / 1e3, "tick": i})
    job_tick, job_sql = {}, {}
    for j in recs["job"]:
        i = group_tick(j["group"])
        if i is None:
            continue
        job_tick[j["id"]] = i
        job_sql[j["id"]] = j["sql"]
        parent = sql_parent.get(j["sql"]) or innermost(i, j["start_ms"] / 1e3)
        out.append({"id": f"j{j['id']}", "parent": parent, "name": "job", "kind": "job",
                    "start": j["start_ms"] / 1e3, "end": j["end_ms"] / 1e3, "tick": i,
                    "attrs": {"ok": j["ok"]}})
    for st in recs["stage"]:
        if st["job"] not in job_tick or st["start_ms"] < 0:
            continue
        attrs = {k: v for k, v in st.items() if k not in ("t", "id", "job", "start_ms", "end_ms")}
        attrs["layers"] = stage_layers(result["workload"], st, job_sql[st["job"]] in sinks_sql)
        out.append({"id": f"s{st['id']}.{st['attempt']}", "parent": f"j{st['job']}", "name": "stage",
                    "kind": "stage", "start": st["start_ms"] / 1e3, "end": st["end_ms"] / 1e3,
                    "tick": job_tick[st["job"]], "attrs": attrs})
    return out


def wall_split(lo, hi, stages, execs, calls):
    """Split the wall time [lo, hi] among layers. An instant during which
    stages run is shared equally among them, and each stage's part among
    its layers by their task time. An instant inside an SQL execution with
    no stage running is Spark's driver work (planning, scheduling, commit)
    and goes to "driver"; any other instant goes to the innermost layer
    call open then, or else to "driver" too. `stages` are (start, end,
    {layer: share}), `execs` (start, end), `calls` (start, end, layer).
    The parts add up to hi - lo."""
    cuts = sorted({lo, hi} | {min(max(t, lo), hi) for x in stages + execs + calls for t in x[:2]})
    split = {}
    for a, b in zip(cuts, cuts[1:]):
        m = (a + b) / 2
        running = [layers for s, e, layers in stages if s <= m < e]
        if not running:
            # innermost: the latest start; of calls starting together, the
            # one that ends first
            open_calls = [(s, -e, layer) for s, e, layer in calls if s <= m < e]
            in_exec = any(s <= m < e for s, e in execs)
            running = [{max(open_calls)[2] if open_calls and not in_exec else "driver": 1.0}]
        for layers in running:
            for layer, w in layers.items():
                split[layer] = split.get(layer, 0.0) + (b - a) * w / len(running)
    return split


def self_times(tree):
    """Per span name: total self time (duration minus what its children
    cover), summed over the traced ticks."""
    kids = {}
    for s in tree:
        kids.setdefault(s["parent"], []).append(s)
    totals = {}
    for s in tree:
        if s["kind"] == "run":
            continue
        own = (s["end"] - s["start"]) - covered(
            [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        totals[s["name"]] = totals.get(s["name"], 0.0) + own
    return totals


def write_tree(tree, path):
    with open(path, "w") as fh:
        for s in tree:
            fh.write(json.dumps(s) + "\n")


def _per_tick(result, tree, op):
    i = op["i"]
    spans = [s for s in tree if s.get("tick") == i]
    tick = next(s for s in spans if s["kind"] == "tick")
    lo, hi = tick["start"], tick["end"]
    wall = hi - lo
    layer = [s for s in spans if s["kind"] == "layer"]
    sqls = [s for s in spans if s["kind"] == "sql"]
    jobs = [s for s in spans if s["kind"] == "job"]
    stage_spans = [s for s in spans if s["kind"] == "stage"]
    stages = [s["attrs"] for s in stage_spans]

    def total(key):
        return sum(st[key] for st in stages)

    def task_s(layer):
        return sum(st["run_ms"] * st["layers"].get(layer, 0.0) for st in stages) / 1e3

    share = wall_split(lo, hi, [(s["start"], s["end"], s["attrs"]["layers"]) for s in stage_spans],
                       [(s["start"], s["end"]) for s in sqls],
                       [(s["start"], s["end"], s["name"].split(".")[0]) for s in layer])
    sync = result["workload"].startswith("sync_")
    landed = op.get("rows_parsed", op["rows_landed"]) if sync else op["rows_landed"]
    sink_calls = [s for s in layer if s["name"].startswith("sinks.")]
    # time inside a sinks call with no SQL execution running: staging
    # renames, swaps and deletes
    publish = sum((c["end"] - c["start"]) - covered(
        [(s["start"], s["end"]) for s in sqls], c["start"], c["end"]) for c in sink_calls)
    changed = op.get("band_rows", 0) if not sync else op["rows_changed"]
    run_s = total("run_ms") / 1e3
    residual = wall - covered([(j["start"], j["end"]) for j in jobs], lo, hi)
    rows_read = total("in_rows")
    rows_written = sum(st["out_rows"] for st in stages if "sinks" in st["layers"])
    return {
        "ingest.call_s": share.get("ingest", 0.0),
        "ingest.task_s": task_s("ingest"),
        "ingest.rows_landed": landed if sync else 0,
        "ingest.slice_ratio": (op["rows_sliced"] / op["rows_parsed"]) if sync and op.get("rows_parsed") else 0.0,
        "sources.call_s": share.get("sources", 0.0),
        "sources.task_s": task_s("sources"),
        "sources.rows_read": rows_read,
        "sources.bytes_read": total("in_bytes"),
        "sources.read_amplification": rows_read / landed if landed else 0.0,
        "sinks.call_s": share.get("sinks", 0.0),
        "sinks.task_s": task_s("sinks"),
        "sinks.publish_s": publish,
        "sinks.rows_written": rows_written,
        "sinks.write_amplification": rows_written / changed if changed else 0.0,
        "sinks.files_written": op.get("files_written", 0),
        "llm.tick_call_s": share.get("llm", 0.0),
        "llm.task_s": task_s("llm"),
        "llm.cand_pairs": op.get("cand_pairs", 0),
        "llm.band_rows": op.get("band_rows", 0),
        "catalyst.executions": len(sqls),
        **{f"catalyst.{ph}_s": sum(s["end"] - s["start"] for s in spans if s["name"] == f"catalyst.{ph}")
           for ph in PHASES},
        "executor.jobs": len(jobs),
        "executor.stages": len(stages),
        "executor.tasks": total("tasks"),
        "executor.run_s": run_s,
        "executor.cpu_s": total("cpu_ns") / 1e9,
        "executor.gc_s": total("gc_ms") / 1e3,
        "executor.busy_ratio": run_s / (wall * result["cpus"]),
        "executor.failed_tasks": total("failed_tasks"),
        "shuffle.write_bytes": total("shuffle_write"),
        "shuffle.read_bytes": total("shuffle_read"),
        "shuffle.spill_bytes": total("spill"),
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "driver.residual_s": residual,
        "driver.share": residual / wall,
    }


UNITS = {"_s": "s", "_bytes": "bytes", "bytes_read": "bytes", "_ratio": "ratio", "share": "ratio",
         "amplification": "ratio", "scaling_1core": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def metrics(result, tree):
    """name -> (value, unit) for every per-layer metric."""
    traced = [op for op in result["ops"] if op["phase"] == "run" and op["traced"] and not op.get("err")]
    untraced = [op["secs"] for op in result["ops"]
                if op["phase"] == "run" and not op["traced"] and not op.get("err")]
    scaled = [op["secs"] for op in result["ops"] if op["phase"] == "scale" and not op.get("err")]
    rows = [_per_tick(result, tree, op) for op in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    last = traced[-1]
    out["sinks.store_bytes"] = last.get("store_bytes", 0)
    out["sinks.store_files"] = last.get("store_files", 0)
    base = statistics.median(untraced)
    out["executor.scaling_1core"] = statistics.median(scaled) / base
    # traced minus untraced ticks of the same run; the noise is the wider
    # of the two sides' interquartile spreads (the overhead's own size when
    # a side has fewer than two ticks), and an overhead within it,
    # negative ones included, is not resolved
    traced_secs = [op["secs"] for op in traced]
    overhead = statistics.median(traced_secs) - base
    out["trace.overhead_s"] = overhead
    out["trace.overhead_share"] = overhead / base
    out["trace.overhead_noise_s"] = (max(iqr(traced_secs), iqr(untraced))
                                     if min(len(traced_secs), len(untraced)) >= 2 else abs(overhead))
    return {k: (float(v), unit(k)) for k, v in out.items()}


def iqr(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1
