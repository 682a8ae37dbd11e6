#!/usr/bin/env python3
"""The DuckDB oracle check: run each oracle SQL that graft.Verify dumped
(<out>/oracle_sql.json) in DuckDB over the same sf tables and compare it
with Spark's parquet output (<out>/<entry>/).

    python3 tools/selfcheck.py SFDIR OUTDIR [entry ...] [--json PATH]

Equal means: the same column names (compared sorted), the same row count,
and per column the same dtype and the same values once rows are sorted.
Timestamps are compared at µs; integer widths are coerced to int64; any
other dtype difference is a failure (a Spark BIGINT never matches an
oracle DOUBLE, however the values round). Named entries restrict the
check to those entries. `--json PATH` writes the verdicts: {"sf_dir",
"ok", "fail", "entries": {name: "ok" | the failure}}; an error verdict
starts with the exception class, `ERR[OutOfMemoryException] ...`.

DuckDB settings, from the environment (all unset by default, so the check
runs the committed SQL verbatim with DuckDB's defaults):
  LV_MEMLIMIT     memory limit (e.g. "40GB"): heavy sf1 oracles spill to
                  LV_SPILLDIR (default /tmp/duckspill) instead of riding
                  the 80%-of-RAM default into the kernel OOM killer (a
                  292-entry sf1 pass was OOM-killed at ~111 GB RSS)
  LV_THREADS      thread count, so the check can share the box
  LV_MATERIALIZE  cte1,cte2: rewrite `<cte> AS (` to `<cte> AS MATERIALIZED (`.
                  An evaluation hint only: DuckDB inlines CTEs, so one
                  referenced k times runs k times (the 32-plane-dot `bits`
                  CTE at sf1 measured ~27 CPU-hours); the result is the same.
"""
import glob
import json
import os
import re
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def tpath(d, t):
    """Driver fixtures are single parquet FILES; GenData tables are
    DIRECTORIES of part files - glob accordingly."""
    p = f"{d}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def canon(df):
    """Columns sorted by name, timestamps at µs, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(spark, oracle):
    """None when the two frames are equal, else what differs."""
    sp, oc = canon(spark), canon(oracle)
    if list(sp.columns) != list(oc.columns):
        return f"COLS spark={list(sp.columns)} oracle={list(oc.columns)}"
    if len(sp) != len(oc):
        return f"ROWS spark={len(sp)} oracle={len(oc)}"
    for c in sp.columns:
        a, b = sp[c], oc[c]
        try:
            if a.dtype != b.dtype:
                # the driver's hash compare coerces integer widths (a Spark
                # int32 row_number matched an oracle BIGINT there)
                if str(a.dtype).startswith("int") and str(b.dtype).startswith("int"):
                    a, b = a.astype("int64"), b.astype("int64")
                else:
                    return f"DTYPE {c}: spark={a.dtype} oracle={b.dtype}"
            if not a.equals(b):
                idx = (a != b) & ~(a.isna() & b.isna())
                i = idx[idx].index[0] if idx.any() else None
                return f"VAL {c} @row{i}: spark={a[i]!r} oracle={b[i]!r}"
        except Exception as e:
            return f"CMPERR {c}: {str(e)[:200]}"
    return None


def connect(sf_dir):
    con = duckdb.connect()
    if os.environ.get("LV_MEMLIMIT"):
        con.execute(f"SET memory_limit='{os.environ['LV_MEMLIMIT']}'")
        con.execute(f"SET temp_directory='{os.environ.get('LV_SPILLDIR', '/tmp/duckspill')}'")
    if os.environ.get("LV_THREADS"):
        con.execute(f"SET threads={int(os.environ['LV_THREADS'])}")
    for t in TABLES:
        if t == "events":
            # mirror Spark's µs truncation of a NANOS-generation ts column
            # (a no-op when the fixture is already TIMESTAMP_MICROS)
            con.execute(f"CREATE VIEW events AS SELECT event_id, "
                        f"CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
                        f"value, props FROM '{tpath(sf_dir, 'events')}'")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tpath(sf_dir, t)}'")
    return con


def verdict(con, out_dir, name, sql):
    spark_dir = f"{out_dir}/{name}"
    if not glob.glob(f"{spark_dir}/*.parquet"):
        return "NO_SPARK_OUTPUT"
    try:
        sp = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
        oc = con.execute(sql).df()
    except Exception as e:
        # the exception CLASS leads, so lv_perentry.py can tell a resource
        # error from an engine mismatch without matching message text
        return f"ERR[{type(e).__name__}] {str(e)[:300]}"
    return compare(sp, oc) or "ok"


def main(argv):
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    if len(argv) < 2:
        sys.exit(__doc__)
    sf_dir, out_dir, only = argv[0], argv[1], set(argv[2:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    mat = [c.strip() for c in os.environ.get("LV_MATERIALIZE", "").split(",") if c.strip()]
    con = connect(sf_dir)
    verdicts = {}
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        for c in mat:
            sql = re.sub(rf"(\b{re.escape(c)} AS) \(", r"\1 MATERIALIZED (", sql)
        verdicts[name] = verdict(con, out_dir, name, sql)
        if verdicts[name] != "ok":
            print(f"FAIL {name}: {verdicts[name]}", flush=True)
    ok = sum(v == "ok" for v in verdicts.values())
    fail = len(verdicts) - ok
    print(f"\n{ok} ok, {fail} fail")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "ok": ok, "fail": fail,
                       "entries": verdicts}, f, indent=1, sort_keys=True)
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
