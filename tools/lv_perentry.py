#!/usr/bin/env python3
"""One-entry-per-process sf1 oracle re-check with a spill quota.

Runs tools/selfcheck.py for one entry at a time in a fresh subprocess
(so one entry's DuckDB state/spill can't poison the next), watching the
spill directory and killing the child if it exceeds the disk quota or the
wall timeout. Verdicts are written incrementally so an interrupted run
loses nothing.

Verdict vocabulary (by design only these three shapes):
  "pass"                      — DuckDB result hash/row/schema matched
  "FAIL <detail>"             — the engine DISAGREED with the oracle
  "deferred: <resource>"      — quota/timeout hit; not a correctness verdict

This replaces the r12 pattern where a transient ENOSPC surfaced as a
`fail` row in the committed gate artifact (VERDICT r12 wrong-item 2):
resource exhaustion is now detected by the runner and recorded as
deferred-with-reason, never as an engine failure.

Usage: lv_perentry.py SFDIR OUTDIR NAMESFILE RESULT.json
         [--quota-gb 40] [--timeout 1200] [--memlimit 36GB] [--threads 24]
"""
import argparse, json, os, shutil, subprocess, sys, time

ap = argparse.ArgumentParser()
ap.add_argument("sfdir")
ap.add_argument("outdir")
ap.add_argument("namesfile")
ap.add_argument("result")
ap.add_argument("--quota-gb", type=float, default=40.0)
ap.add_argument("--timeout", type=float, default=1200.0)
ap.add_argument("--memlimit", default="36GB")
ap.add_argument("--threads", type=int, default=24)
ap.add_argument("--spilldir", default="/tmp/duckspill")
ap.add_argument("--materialize", default="",
                help="LV_MATERIALIZE value passed through to selfcheck")
ap.add_argument("--keep-deferred", action="store_true",
                help="do NOT retry entries recorded as deferred (default retries them)")
args = ap.parse_args()

names = [l.strip() for l in open(args.namesfile) if l.strip()]
results = json.load(open(args.result)) if os.path.exists(args.result) else {}
here = os.path.dirname(os.path.abspath(__file__))


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def run_one(name):
    shutil.rmtree(args.spilldir, ignore_errors=True)
    os.makedirs(args.spilldir, exist_ok=True)
    env = dict(os.environ, LV_MEMLIMIT=args.memlimit,
               LV_THREADS=str(args.threads), LV_SPILLDIR=args.spilldir)
    if args.materialize:
        env["LV_MATERIALIZE"] = args.materialize
    verdicts = os.path.join(args.spilldir, "verdict.json")
    p = subprocess.Popen(
        [sys.executable, os.path.join(here, "selfcheck.py"),
         args.sfdir, args.outdir, name, "--json", verdicts],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=env)
    start, quota = time.time(), args.quota_gb * 1024**3
    while True:
        try:
            out, _ = p.communicate(timeout=5)
            break
        except subprocess.TimeoutExpired:
            elapsed = time.time() - start
            if elapsed > args.timeout:
                p.kill(); p.communicate()
                return f"deferred: oracle timeout after {int(elapsed)}s " \
                       f"(quota {args.timeout:.0f}s per entry)"
            spill = dir_bytes(args.spilldir)
            if spill > quota:
                p.kill(); p.communicate()
                return f"deferred: oracle spill quota exceeded " \
                       f"({spill / 1024**3:.1f} GB > {args.quota_gb:.0f} GB)"
    try:
        why = json.load(open(verdicts))["entries"][name]
    except (OSError, ValueError, KeyError):
        return f"deferred: runner found no selfcheck verdict " \
               f"(exit {p.returncode}): {out.strip()[-200:]}"
    if why == "ok":
        return "pass"
    # resource exhaustion inside DuckDB is a deferral, not a verdict —
    # keyed on the exception CLASS selfcheck puts first
    # (ERR[OutOfMemoryException] / ERR[IOException] with ENOSPC), never on
    # a substring of an engine-mismatch detail (a real FAIL whose diff
    # text mentions "Out of Memory" stays a FAIL)
    if why.startswith("ERR[OutOfMemoryException]") or (
            why.startswith("ERR[IOException]")
            and "No space left on device" in why):
        return f"deferred: oracle resource error ({why[:120]})"
    return f"FAIL {why}"


# deferred entries are TODO on every re-run (ADVICE r13: sticky deferrals
# were never retried even after raising the quota); only real verdicts
# ("pass" / "FAIL ...") are resumable state. --keep-deferred restores the
# old behavior for quota-exhausted boxes.
def is_verdict(v):
    return v is not None and not str(v).startswith("deferred")

todo = [n for n in names
        if (results.get(n) is None
            or (not args.keep_deferred and not is_verdict(results.get(n))))]
print(f"{len(todo)} entries to check ({len(names) - len(todo)} already done)")
for i, name in enumerate(todo):
    t0 = time.time()
    verdict = run_one(name)
    results[name] = verdict
    json.dump(results, open(args.result, "w"), indent=1)
    print(f"[{i + 1}/{len(todo)}] {name}: {verdict}  ({time.time() - t0:.1f}s)",
          flush=True)
shutil.rmtree(args.spilldir, ignore_errors=True)
npass = sum(1 for v in results.values() if v == "pass")
print(f"done: {npass} pass / {len(results) - npass} non-pass -> {args.result}")
