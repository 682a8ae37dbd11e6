"""Independent reference for every workload's output, computed by DuckDB
over the same landed files the program read.

sync_*: the reference pipeline is replayed in SQL (flatten with the paired
author/committer rule, null-skipping max watermark, +1 s exclusive slice,
keyed last-writer-wins upsert) and its state is digested after every
landed input. Each checked operation's digest must match: row count, key
count (keys unique) and an order-independent hash of all rows, all read
here from the parquet files the operation wrote.

dedup_ticks: the accumulated verified pairs must equal the one-shot oracle
SQL of `q_llm_dedup_incremental`, run over every landed document.
"""
import duckdb

RAW_COLUMNS = ("{sha: 'VARCHAR', commit: 'STRUCT(message VARCHAR, "
               "author STRUCT(email VARCHAR, date VARCHAR), "
               "committer STRUCT(email VARCHAR, date VARCHAR))'}")
NULL_MARK = "'NULL!'"


def _flatten(pages_dir):
    return f"""
      SELECT sha AS commit_hash,
             CASE WHEN ad IS NOT NULL THEN ad WHEN cd IS NOT NULL THEN cd END AS commit_ts,
             commit.message AS commit_message,
             CASE WHEN ad IS NOT NULL THEN commit.author.email
                  WHEN cd IS NOT NULL THEN commit.committer.email
                  ELSE commit.author.email END AS commit_email
      FROM (SELECT *, strptime(commit.author.date, '%Y-%m-%dT%H:%M:%SZ') AS ad,
                      strptime(commit.committer.date, '%Y-%m-%dT%H:%M:%SZ') AS cd
            FROM read_json('{pages_dir}/*.json', format = 'array', columns = {RAW_COLUMNS}))"""


def _digest(con, relation):
    n, keys, h = con.execute(f"""
      SELECT count(*), count(DISTINCT commit_hash),
             coalesce(sum(('0x' || substr(md5(concat_ws(chr(1), commit_hash,
               coalesce(CAST(epoch_us(commit_ts) AS VARCHAR), {NULL_MARK}),
               coalesce(commit_message, {NULL_MARK}),
               coalesce(commit_email, {NULL_MARK}))), 1, 15))::BIGINT), 0)
      FROM {relation}""").fetchone()
    return {"rows_stored": n, "keys_stored": keys, "hash_sum": str(h)}


def _apply(con, pages_dir):
    """One reference tick over the `store` table."""
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE inc AS
      WITH p AS ({_flatten(pages_dir)}),
           wm AS (SELECT max(commit_ts) AS wm FROM store)
      SELECT DISTINCT ON (commit_hash) p.* FROM p, wm
      WHERE wm.wm IS NULL OR p.commit_ts >= wm.wm + INTERVAL 1 SECOND
      ORDER BY commit_hash, commit_ts DESC NULLS LAST""")
    con.execute("DELETE FROM store WHERE commit_hash IN (SELECT commit_hash FROM inc)")
    con.execute("INSERT INTO store SELECT * FROM inc")


def check_sync(result):
    """Digests each operation's kept output and compares it with the
    reference state after the same landed inputs. Returns per-op problem
    lists keyed by op index, and sets each op's `rows_changed`: the rows a
    correct operation makes visible."""
    con = duckdb.connect()
    con.execute("CREATE TABLE store (commit_hash VARCHAR, commit_ts TIMESTAMP, "
                "commit_message VARCHAR, commit_email VARCHAR)")
    expected = [_digest(con, "store")]  # index = landed inputs applied
    for item in result["landed"]:
        _apply(con, item["path"])
        expected.append(_digest(con, "store"))
    backfill = result["workload"] == "sync_backfill"
    per_op = {}
    for op in result["ops"]:
        if op.get("err") or "output" not in op:
            continue
        n = op["applied"]
        want = expected[n]
        got = _digest(con, f"read_parquet('{op['output']}/*.parquet')")
        bad = [f"{k}: got {got[k]} want {want[k]}" for k in want if got[k] != want[k]]
        if got["rows_stored"] != got["keys_stored"]:
            bad.append("duplicate keys in the store")
        per_op[op["i"]] = bad
        op["rows_changed"] = want["rows_stored"] - (0 if backfill else expected[n - 1]["rows_stored"])
    return per_op


def check_dedup(result):
    con = duckdb.connect()
    files = ", ".join(f"'{item['path']}'" for item in result["landed"])
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_json([{files}], "
                "format = 'newline_delimited', columns = {doc_id: 'BIGINT', text: 'VARCHAR'})")
    with open(result["oracle_sql"]) as fh:
        oracle = fh.read()
    want = con.execute(f"SELECT doc_a, doc_b, jaccard FROM ({oracle}) ORDER BY ALL").fetchall()
    got = con.execute(f"SELECT doc_a, doc_b, jaccard FROM read_parquet('{result['pairs']}/*.parquet') "
                      "ORDER BY ALL").fetchall()
    if got == want:
        return [], len(want)
    missing, extra = set(want) - set(got), set(got) - set(want)
    return [f"verified pairs differ from the one-shot oracle: {len(got)} vs {len(want)} rows, "
            f"{len(missing)} missing, {len(extra)} extra"], len(want)
