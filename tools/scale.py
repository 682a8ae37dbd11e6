#!/usr/bin/env python3
"""The scale harness: measure the entries a manifest lists at their scale
factors, then fold the fresh samples into a scale artifact.

    python3 tools/scale.py run  [manifest]   # default tools/scale.json
    python3 tools/scale.py fold [manifest]

The manifest names the base artifact, the output artifact and what to
measure: {"base": ..., "out": ..., "measure": [{"sf", "passes",
"entries"}, ...]}, paths relative to the repo root.

`run` takes, for each measured sf and each pass i, one quiet graft.Bench
over that sf's entries (tools/runjvm.sh; heap 8g, 64g at sf1, 96g at
sf10; input target/gen/sf<sf>) into target/scale/bench_sf<sf>_p<i>.json,
with a .prov.json sidecar: the commit, whether the measured surface (src,
build.sbt, the runner) was clean before AND after the run at that one
commit, the runner, cpus, heap, sf and entries.

`fold` starts from the base artifact and replaces the samples of every
listed (entry, sf) with the fresh passes. It refuses (non-zero exit) a
pass without a sidecar, one whose tree was not clean, passes whose
commits differ in src/main/scala, src/test/scala or build.sbt, and a
listed entry with fewer samples than passes (a pass in which the entry
failed leaves none). Then, for EVERY entry, it derives all numbers from
the samples alone: times = the median of each sf's samples, alpha = the
least-squares slope of log10 t over log10 sf for sf <= 1, alpha_tail =
sf0.1 -> sf1 and alpha_sf10 = sf1 -> sf10 (slopes per decade). No field
can go stale against its samples. It prints the listed entries and flags
an alpha above 1.3 without failing: a superlinear entry is reported and
left standing.
"""
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_DIR = os.path.join(ROOT, "target", "scale")
ALPHA_GATE = 1.3
HEAP = {1.0: "64g", 10.0: "96g"}  # the sf1 corpus's gram stream peaks well past 8g
MEASURED_SURFACE = ["src", "build.sbt", "tools/runjvm.sh"]
SOURCE = ["src/main/scala", "src/test/scala", "build.sbt"]


class Refused(Exception):
    pass


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), capture_output=True,
                          text=True, check=True).stdout.strip()


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sf_key(sf):
    """The artifact's sf key: "0.1", "1.0", "10.0"."""
    return str(float(sf))


def bench_path(scale_dir, sf, i):
    return os.path.join(scale_dir, f"bench_sf{sf}_p{i}.json")


def run(manifest, scale_dir=SCALE_DIR):
    os.makedirs(scale_dir, exist_ok=True)
    for i in range(1, max(m["passes"] for m in manifest["measure"]) + 1):
        for m in manifest["measure"]:
            if i > m["passes"]:
                continue
            sf, entries = m["sf"], ",".join(m["entries"])
            heap = HEAP.get(float(sf), "8g")
            out = bench_path(scale_dir, sf, i)
            commit0 = git("rev-parse", "HEAD")
            dirty0 = git("status", "--porcelain", "--", *MEASURED_SURFACE)
            print(f"[scale] sf{sf} pass {i} (heap {heap}) -> {out} @ {commit0[:9]}", flush=True)
            env = dict(os.environ, SPARK_DRIVER_MEM=heap,
                       SPARK_GRAFT_SF_DIR=os.path.join("target", "gen", f"sf{sf}"),
                       SPARK_GRAFT_BENCH_ONLY=entries, SPARK_GRAFT_BENCH_OUT=out)
            with open(out[:-len(".json")] + ".err", "w") as err:
                r = subprocess.run([os.path.join(ROOT, "tools", "runjvm.sh"), "graft.Bench"],
                                   cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
            print((r.stdout.strip().splitlines() or [f"exit {r.returncode}"])[-1], flush=True)
            clean = (commit0 == git("rev-parse", "HEAD") and not dirty0
                     and not git("status", "--porcelain", "--", *MEASURED_SURFACE))
            with open(out[:-len(".json")] + ".prov.json", "w") as f:
                json.dump({"commit": commit0, "clean": clean, "runner": "jvm",
                           "cpus": len(os.sched_getaffinity(0)), "heap": heap, "sf": sf,
                           "entries": entries}, f, indent=1)


def source_equivalent(a, b):
    """True iff the measured source is identical at the two commits: a
    docs-only commit between passes does not split a fold, source drift does."""
    return a == b or git("diff", "--name-only", a, b, "--", *SOURCE) == ""


def load_passes(scale_dir, sf, passes):
    """The `passes` bench outputs of one sf with their sidecars."""
    runs = []
    for i in range(1, passes + 1):
        path = bench_path(scale_dir, sf, i)
        prov_path = path[:-len(".json")] + ".prov.json"
        if not os.path.exists(prov_path):
            raise Refused(f"{path} has no provenance sidecar {prov_path}")
        prov = load_json(prov_path)
        if not prov.get("clean"):
            raise Refused(f"{path} measured on a dirty tree or a moving HEAD "
                          f"(commit {prov.get('commit', '?')[:9]})")
        runs.append((load_json(path)["queries"], prov))
    return runs


def fit(points):
    """Least-squares slope of log10 t over log10 sf."""
    xs = [math.log10(sf) for sf, _ in points]
    ys = [math.log10(t) for _, t in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    return (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
            / sum((x - mx) ** 2 for x in xs))


def derive(rec):
    """Every number of an entry, from its samples."""
    rec["times"] = {sf: statistics.median(s) for sf, s in sorted(
        rec["samples"].items(), key=lambda kv: float(kv[0]))}
    t = {float(sf): v for sf, v in rec["times"].items()}
    for name, value in [
            ("alpha", fit(sorted((sf, v) for sf, v in t.items() if sf <= 1))
             if sum(sf <= 1 for sf in t) >= 2 else None),
            ("alpha_tail", math.log10(t[1.0] / t[0.1]) if {0.1, 1.0} <= t.keys() else None),
            ("alpha_sf10", math.log10(t[10.0] / t[1.0]) if {1.0, 10.0} <= t.keys() else None)]:
        if value is None:
            rec.pop(name, None)
        else:
            rec[name] = round(value, 3)


def fold(manifest, base, scale_dir=SCALE_DIR):
    """The base artifact with the manifest's fresh samples folded in and
    every entry re-derived; raises Refused on any provenance fault."""
    art = json.loads(json.dumps(base))
    commits = set()
    for m in manifest["measure"]:
        runs = load_passes(scale_dir, m["sf"], m["passes"])
        commits.update(prov["commit"] for _, prov in runs)
        for entry in m["entries"]:
            samples = sorted(round(q[entry], 3) for q, _ in runs if entry in q)
            if len(samples) < m["passes"]:
                raise Refused(f"{entry}: {m['passes']} passes at sf{m['sf']} "
                              f"but {len(samples)} samples {samples}")
            rec = art["queries"].setdefault(entry, {"samples": {}})
            rec["samples"][sf_key(m["sf"])] = samples
            prov = runs[0][1]
            rec.setdefault("measured", {})[sf_key(m["sf"])] = {
                k: prov[k] for k in ("commit", "runner", "cpus", "heap")}
        if sf_key(m["sf"]) not in art["runs"]:
            art["runs"] = sorted(art["runs"] + [sf_key(m["sf"])], key=float)
    first = min(commits, default=None)
    for c in commits:
        if not source_equivalent(first, c):
            raise Refused(f"samples span source-different commits: "
                          f"{sorted(x[:9] for x in commits)}")
    for rec in art["queries"].values():
        derive(rec)
    art["estimator"] = (
        "times = per-entry median of all recorded samples; alpha = least-squares "
        "slope of log10 t over log10 sf for sf <= 1; alpha_tail = sf0.1 -> sf1 and "
        "alpha_sf10 = sf1 -> sf10 slopes; every number re-derived from the samples "
        "by tools/scale.py fold; measured[sf] records the provenance of "
        "re-measured samples. Single samples of unchanged code can be ~3x the "
        "median on a shared box: only medians of >= 2-3 passes are evidence.")
    return art


def report(art, manifest):
    cols = ["alpha", "alpha_tail", "alpha_sf10"]
    print("| entry | " + " | ".join(f"t(sf{sf})" for sf in art["runs"]) + " | "
          + " | ".join(cols) + " |")
    print("| --- |" + " --- |" * (len(art["runs"]) + len(cols)))
    listed = sorted({e for m in manifest["measure"] for e in m["entries"]})
    flagged = []
    for e in listed:
        r = art["queries"][e]
        ts = " | ".join(f"{r['times'][sf]:.2f}" if sf in r["times"] else "-" for sf in art["runs"])
        al = " | ".join(f"{r[c]:.3f}" if c in r else "-" for c in cols)
        print(f"| `{e}` | {ts} | {al} |")
        flagged += [f"{e} {c}={r[c]}" for c in cols if r.get(c, 0) > ALPHA_GATE]
    print(f"\nabove the {ALPHA_GATE} alpha gate: " + (", ".join(flagged) or "none"))


def main(argv):
    if not argv or argv[0] not in ("run", "fold"):
        sys.exit(__doc__)
    path = argv[1] if len(argv) > 1 else os.path.join(ROOT, "tools", "scale.json")
    manifest = load_json(path)
    if argv[0] == "run":
        run(manifest)
        return
    try:
        art = fold(manifest, load_json(os.path.join(ROOT, manifest["base"])))
    except Refused as e:
        sys.exit(f"REFUSED: {e}")
    with open(os.path.join(ROOT, manifest["out"]), "w") as f:
        json.dump(art, f, indent=1)
    report(art, manifest)
    print(f"-> {manifest['out']}")


if __name__ == "__main__":
    main(sys.argv[1:])
