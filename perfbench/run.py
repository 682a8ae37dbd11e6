#!/usr/bin/env python3
"""Benchmark of the commit-sync pipeline and the incremental dedup.

    python3 perfbench/run.py --workload sync_steady --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # all workloads at tiny size, traced

Builds the program and the harness from source (perfbench/build.py), runs
the workload in one JVM with Spark local[nproc], checks every output
against DuckDB (perfbench/reference.py), prints each metric by name with
its unit, saves a result file with provenance under --results, and prints
one JSON object as the last line of stdout. With --trace 1 it prints the
per-layer metrics of a traced run instead (perfbench/layers.py).

Workloads, sizes and shares: perfbench/workloads.json. Comparing two sets
of result files: perfbench/compare.py.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

# Settings that change the measured program; the benchmark refuses them.
REFUSED_ENV = ("SPARK_GRAFT_CONF", "SPARK_GRAFT_JOBLOG", "SPARK_GRAFT_SUBPROF")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_BUDGET_S = 165


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def cpus():
    return len(os.sched_getaffinity(0))


def git(*args):
    try:
        r = subprocess.run(["git", "-C", ROOT] + list(args), capture_output=True, text=True, timeout=20)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def machine_load():
    """Load sentinels, recorded so a slow run can be told from a slow
    program: CPU time the hypervisor stole from the machine so far, and the time
    of a fixed single-threaded loop."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return {"steal_s": steal, "calibration_loop_s": time.perf_counter() - t0}


def provenance(seed, jvm_options, java, spark, load):
    import duckdb
    commit = git("rev-parse", "HEAD") if os.path.isdir(os.path.join(ROOT, ".git")) else None
    dirty = None if commit is None else bool(git("status", "--porcelain"))
    files = build.sources()
    return {
        "commit": commit, "dirty": dirty,
        "source_stamp": build.stamp(files, []),
        "cpus": cpus(), "jvm_options": jvm_options, "seed": seed,
        "env": {"java": java, "spark": spark, "python": sys.version.split()[0],
                "duckdb": duckdb.__version__, "host": os.uname().nodename,
                "loadavg_at_start": os.getloadavg(),
                "steal_s_during_run": load[1]["steal_s"] - load[0]["steal_s"],
                "calibration_loop_s": [load[0]["calibration_loop_s"], load[1]["calibration_loop_s"]],
                "SPARK_HOME": os.environ.get("SPARK_HOME"),
                "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT")}},
    }


def jvm_args(spec, workloads, sizes, args, root, classes):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    kv = {"root": root, "workloads": ",".join(workloads), "seed": args.seed,
          "seconds": args.seconds, "trace": args.trace, "cpus": cpus(),
          "setup_reps": spec["setup_reps"], **spec["smoke" if args.smoke else "ops"]["counts"]}
    for w in workloads:
        kv.update({f"{w}.{k}": v for k, v in sizes[w].items()})
    return (["java"] + opens + spec["jvm_options"] + ["-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
             "-cp", cp, "graft.perfbench.PerfBench"] + [f"{k}={v}" for k, v in kv.items()])


def run_jvm(cmd, root, budget):
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    log_path = os.path.join(root, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=root)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        log(f"perfbench: JVM exited with {code}; log tail:\n{tail}")
    return code


def percentile_rank(values, pct):
    """Nearest-rank percentile of sorted values and how many lie beyond it."""
    idx = max(0, math.ceil(pct / 100 * len(values)) - 1)
    return values[idx], len(values) - idx - 1


def end_to_end(result, wspec, problems):
    ops = [op for op in result["ops"] if op["phase"] == "run"]
    timed = [op for op in ops if not op["traced"]]
    good = [op for op in timed if not problems.get(op["i"])]
    secs = sorted(op["secs"] for op in good)
    if not secs:
        return None, {}
    tail, beyond = percentile_rank(secs, wspec["tail_percentile"])
    if result["workload"] == "sync_backfill":
        rows_per_s = statistics.median(op["rows_changed"] / op["secs"] for op in good)
    else:
        rows_per_s = sum(op["rows_changed"] for op in good) / sum(secs)
    metrics = {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "tick_p50_s": (statistics.median(secs), "s"),
        "tick_tail_s": (tail, "s"),
        "rows_per_s": (rows_per_s, "1/s"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024, "MB"),
    }
    notes = {
        "setup_s": f"median of {len(result['setup_s'])} set-ups",
        "tick_p50_s": f"n={len(secs)} ({wspec['operation']})",
        "tick_tail_s": f"p{wspec['tail_percentile']}, {beyond} beyond"
                       + ("" if beyond >= 10 else " (fewer than 10: read as a rough tail)"),
        "rows_per_s": f"{good[0]['rows_landed']} rows landed per {wspec['operation']}",
    }
    return metrics, notes


def judge(result):
    """Reference checks; returns (per-op problems, run-level problems)."""
    import reference
    w = result["workload"]
    if "error" in result:
        return {}, [f"harness error: {result['error']}"]
    if w.startswith("sync_"):
        return reference.check_sync(result), []
    for op in result["ops"]:
        op["rows_changed"] = op.get("rows_landed", 0)
    issues, n_pairs = reference.check_dedup(result)
    result["oracle_pairs"] = n_pairs
    # the accumulated state cannot localise a mismatch to one tick, so a
    # mismatch fails every measured tick
    return ({op["i"]: issues for op in result["ops"]} if issues else {}), issues


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="all workloads at tiny size, traced")
    ap.add_argument("--results", default=os.path.join(ROOT, ".perfbench", "results"))
    args = ap.parse_args()
    t_start = time.time()

    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        raise SystemExit(f"perfbench: refusing to run with {', '.join(refused)} set; "
                         "they change the measured program")
    spec = load_json(os.path.join(HERE, "workloads.json"))
    if args.smoke:
        workloads = list(spec["workloads"])
        sizes = spec["smoke"]["sizes"]
        args.seconds, args.trace = spec["smoke"]["seconds"], 1
    else:
        if args.workload not in spec["workloads"]:
            raise SystemExit(f"perfbench: --workload must be one of {', '.join(spec['workloads'])}")
        workloads = [args.workload]
        sizes = {w: spec["workloads"][w]["sizes"] for w in workloads}

    classes = build.build()
    t_built = time.time()
    run_id = f"{'smoke' if args.smoke else args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    root = os.path.join(ROOT, ".perfbench", "runs", run_id)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    load_before = machine_load()
    try:
        code = run_jvm(jvm_args(spec, workloads, sizes, args, root, classes), root, JVM_BUDGET_S)
        load_after = machine_load()
        if code == "timeout":
            raise SystemExit("perfbench: the JVM ran past its time budget")
        reports = []
        for w in workloads:
            path = os.path.join(root, w, "result.json")
            if not os.path.exists(path):
                raise SystemExit(f"perfbench: {w} wrote no result")
            reports.append(report(load_json(path), spec, args, t_start, t_built, (load_before, load_after)))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    correct = all(r["correct"] for r in reports)
    if args.smoke:
        print(json.dumps({"correct": correct, "attempted": sum(r["attempted"] for r in reports),
                          "failed": sum(r["failed"] for r in reports),
                          "metrics": {f"{r['workload']}.{k}": v for r in reports
                                      for k, v in r["metrics"].items()}}))
        sys.exit(0 if correct else 1)
    r = reports[0]
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": r["metrics"]}))


def report(result, spec, args, t_start, t_built, load):
    w = result["workload"]
    wspec = spec["workloads"][w]
    per_op, run_level = judge(result)
    attempted_ops = [op for op in result["ops"] if op["phase"] in ("run", "scale")]
    problems = {op["i"]: ([op["err"]] if op.get("err") else []) + per_op.get(op["i"], [])
                for op in attempted_ops}
    failed = sum(1 for p in problems.values() if p)
    attempted = len(attempted_ops)
    correct = not run_level and failed == 0 and attempted > 0
    print(f"[perfbench] {w} seed={args.seed} trace={args.trace} "
          f"operations={attempted} check={'ok' if correct else 'FAILED'}")
    for i, p in sorted(problems.items()):
        for line in p:
            print(f"  check {wspec['operation']} {i}: {line}")
    for line in run_level:
        print(f"  check: {line}")

    e2e, notes = end_to_end(result, wspec, problems)
    fail_ratio = failed / attempted if attempted else 1.0
    out = {}
    if e2e:
        for name, (value, unit) in e2e.items():
            print(f"  {name:<12} {value:>12.4f} {unit:<4} {notes.get(name, '')}")
    print(f"  {'fail_ratio':<12} {fail_ratio:>12.4f} {'':<4} {failed}/{attempted} failed")
    layer = tree = None
    if args.trace:
        import layers
        tree = layers.build_tree(result)
        layer = layers.metrics(result, tree)
        for name, (value, unit) in layer.items():
            print(f"  {name:<28} {value:>14.4f} {unit}")
        if abs(layer["trace.overhead_s"][0]) <= layer["trace.overhead_noise_s"][0]:
            print("  trace overhead is within the ticks' noise: not resolved")
        out = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    elif e2e:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    saved = {
        "workload": w, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "started_at": t_start, "build_s": t_built - t_start,
        "provenance": provenance(args.seed, " ".join(spec["jvm_options"]), result.get("java"),
                                 result.get("spark"), load),
        "correct": correct, "attempted": attempted, "failed": failed, "fail_ratio": fail_ratio,
        "problems": {str(k): v for k, v in problems.items() if v}, "run_problems": run_level,
        "end_to_end": {k: v for k, (v, _) in (e2e or {}).items()},
        "per_layer": {k: v for k, (v, _) in (layer or {}).items()},
        "op_secs": [[op["phase"], op["traced"], op["secs"]] for op in result["ops"]],
        "setup_s": result["setup_s"],
        "oracle_pairs": result.get("oracle_pairs"),
    }
    if tree:
        saved["self_s"] = layers.self_times(tree)
    os.makedirs(args.results, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime(t_start))}-{w}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(args.results, name + ".json"), "w") as fh:
        json.dump(saved, fh, indent=1)
    if tree:
        layers.write_tree(tree, os.path.join(args.results, name + ".spans.jsonl"))
    return {"workload": w, "correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


if __name__ == "__main__":
    main()
