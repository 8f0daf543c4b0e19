"""Lakehouse checks and figures: a DuckDB mirror replays the workload's
logged statements from their parameters (never from the engine's SQL text)
and every read, the ingested head and the final head must match it."""
import json

from checks import q, tail

COLS = "event_id, CAST(epoch(ts) AS BIGINT) AS ts_s, user_id, event_type, value"
MERGE_TYPES = "CASE r % 4 WHEN 0 THEN 'click' WHEN 1 THEN 'view' WHEN 2 THEN 'cart' ELSE 'buy' END"


def keys_sql(e):
    return f"SELECT r FROM range({e['lo']}, {e['hi']}) t(r) WHERE r % 10 = {e['rem']}"


def apply_write(con, e):
    if e["name"] == "merge":
        src = f"""SELECT r AS event_id, to_timestamp(1704067200 + r % 3600) AS ts,
                    r % 500 AS user_id, {MERGE_TYPES} AS event_type,
                    (r * 13 + {e['salt']}) % 100000 AS value
                  FROM range({e['lo']}, {e['hi']}) t(r)"""
        con.sql(f"DELETE FROM m WHERE event_id IN (SELECT event_id FROM ({src}))")
        con.sql(f"INSERT INTO m {src}")
    elif e["name"] == "delete":
        con.sql(f"DELETE FROM m WHERE event_id IN ({keys_sql(e)})")
    elif e["name"] == "update":
        con.sql(f"UPDATE m SET value = value + 1 WHERE event_id IN ({keys_sql(e)})")


def read_rows(con, e, table):
    if e["name"] == "group_by":
        sql = f"SELECT event_type, count(*), sum(value) FROM {table} GROUP BY event_type"
    else:
        where = "" if e["name"] == "time_travel" else \
            f"WHERE event_id BETWEEN {e['lo']} AND {e['hi']}"
        sql = f"SELECT count(*), sum(event_id), sum(value), sum(user_id) FROM {table} {where}"
    return sorted(tuple(None if v is None else str(int(v)) if not isinstance(v, str) else v
                        for v in r) for r in con.sql(sql).fetchall())


def same_table(con, path):
    """Rows of the parquet head at `path` equal the mirror's, as multisets."""
    con.sql(f"CREATE OR REPLACE TEMP VIEW got AS SELECT {COLS} FROM read_parquet('{path}/*.parquet')")
    con.sql(f"CREATE OR REPLACE TEMP VIEW want AS SELECT {COLS} FROM m")
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    return None if extra == 0 and missing == 0 else f"{extra} extra rows, {missing} missing rows"


def check(con, data, out, res):
    ex = res["extra"]
    ing = ex["ingest"]
    ops = {o["id"]: o for o in res["ops"]}
    errors, bad_ops = [], set()

    # Ingest: base rows plus the de-duplicated union of every dropped file.
    con.sql(f"CREATE OR REPLACE TABLE m AS SELECT * FROM read_parquet('{data}/base.parquet')")
    con.sql(f"INSERT INTO m SELECT DISTINCT * FROM read_parquet('{data}/files/*.parquet')")
    why = same_table(con, ing["head_ingest"])
    if why:
        errors.append(f"ingested head differs from the de-duplicated events: {why}")

    # Serve: replay writes, compare every read; keep states time travel needs.
    states = {e["state"] for e in ex["log"] if e["name"] == "time_travel"}
    if 0 in states:
        con.sql("CREATE OR REPLACE TABLE s0 AS SELECT * FROM m")
    for e in ex["log"]:
        o = ops[e["op"]]
        if e["kind"] == "write":
            apply_write(con, e)
            if e["name"] == "update" and e["round"] + 1 in states:
                con.sql(f"CREATE OR REPLACE TABLE s{e['round'] + 1} AS SELECT * FROM m")
        elif e["kind"] == "read" and o["ok"]:
            table = f"s{e['state']}" if e["name"] == "time_travel" else "m"
            want = read_rows(con, e, table)
            got = sorted(tuple(r) for r in e["rows"])
            if got != want:
                bad_ops.add(o["id"])
                errors.append(f"{e['name']} round {e['round']}: {got} != {want}")
    why = same_table(con, ing["head_final"])
    if why:
        errors.append(f"final head differs from the mirror: {why}")

    # Self-test: a corrupted read result must not match the mirror.
    reads = [e for e in ex["log"] if e["kind"] == "read" and e["name"] != "time_travel"]
    self_ok = False
    if reads:
        e = reads[-1]
        got = sorted(tuple(r) for r in e["rows"])
        corrupt = [tuple(str(int(v or 0) + 1) if i == 1 else v for i, v in enumerate(r)) for r in got]
        self_ok = corrupt != read_rows(con, e, "m")

    figures, layers = lake_figures(con, data, res, errors)
    return {"errors": errors, "summary": {"reads_checked": sum(1 for e in ex["log"] if e["kind"] == "read"),
                                          "heads_checked": 2},
            "self_test_ok": self_ok, "bad_ops": sorted(bad_ops),
            "extra_attempted": 3, "extra_failed": sum(1 for x in errors if "head" in x or "ingest" in x),
            "info": figures, "layers": layers}


def lake_figures(con, data, res, errors):
    ex = res["extra"]
    ing = ex["ingest"]
    ops = res["ops"]
    batches = {b["batch_id"]: b for b in ing["batches"]}

    def log_offset(o):
        return json.loads(o)["logOffset"] if o else -1

    # (start, end] source offsets each micro-batch read, and its commit time
    spans = [(log_offset(b["source_start"]), log_offset(b["source_end"]), b["end_ms"])
             for b in ing["batches"]]
    lags, backlog_end = [], ing["burst_ms"]
    for d in ing["drops"]:
        off = ing["file_offset"].get(d["file"])
        ends = [e for lo, hi, e in spans if off is not None and lo < off <= hi]
        if not ends:
            errors.append(f"ingest: {d['file']} was never committed")
            continue
        end = min(ends)
        lags.append(end - d["due_ms"])
        if d["backlog"]:
            backlog_end = max(backlog_end, end)
    backlog_files = [d["file"] for d in ing["drops"] if d["backlog"]]
    backlog_rows = con.sql("SELECT count(*) FROM read_parquet([{}])".format(
        ", ".join(f"'{data}/files/{f}'" for f in backlog_files))).fetchone()[0] if backlog_files else 0
    drain = backlog_rows / max(1e-3, (backlog_end - ing["burst_ms"]) / 1000.0)

    def wall(kind, name=None):
        return [o["end_ms"] - o["start_ms"] for o in ops
                if o["ok"] and o["kind"] == kind and (name is None or o["name"] == name)]

    lt, wt, rt = tail(lags), tail(wall("write")), tail(wall("read"))
    commits = [e for e in ex["log"] if e["kind"] in ("write", "maintain")]
    n_commits = len(commits) + len(batches)
    added = sum(e["bytes_added"] for e in commits) + ing["data_bytes"]
    plain = max(1, ing["plain_bytes_final"])
    prog = list(batches.values())

    def mean(k):
        return sum(p[k] for p in prog) / len(prog) if prog else 0.0

    layers = {
        "stream.batches": float(len(prog)),
        "stream.batch_ms": mean("trigger_ms"),
        "stream.add_batch_ms": mean("add_batch_ms"),
        "stream.wal_commit_ms": mean("wal_commit_ms"),
        "stream.commit_offsets_ms": mean("commit_offsets_ms"),
        "stream.state_rows": float(max([p["state_rows"] for p in prog] + [0])),
        "stream.state_commit_ms": mean("state_commit_ms"),
        "stream.gen_late_ms": float(max([d["dropped_ms"] - d["due_ms"] for d in ing["drops"]] + [0])),
        "stream.ingest_lag_p50_ms": q(lags, 50),
        "stream.ingest_lag_tail_ms": lt[1] if lt else max(lags + [0]),
        "stream.drain_rows_per_s": drain,
        "commit.data_files": (sum(e["data_files"] for e in commits) + ing["data_files"]) / max(1, n_commits),
        "commit.meta_files": (sum(e["meta_files"] for e in commits) + ing["meta_files"]) / max(1, n_commits),
        "commit.data_bytes": added / max(1, n_commits),
        "commit.write_amp": added / plain,
        "commit.space_amp": ing["table_bytes_final"] / plain,
        "commit.write_p50_ms": q(wall("write"), 50),
        "commit.write_tail_ms": wt[1] if wt else max(wall("write") + [0]),
        "commit.optimize_ms": q(wall("maintain", "optimize"), 50) if wall("maintain", "optimize") else 0.0,
        "scan.read_p50_ms": q(wall("read"), 50),
        "scan.read_tail_ms": rt[1] if rt else max(wall("read") + [0]),
    }
    trace = res.get("trace")
    if trace:
        per = trace["per_op"]
        files = {}
        for o in ops:
            if o["kind"] == "read":
                files.setdefault((o["pass"], o["name"]), per[str(o["id"])]["scan.files_read"])
        pruned = sum(v for (r, n), v in files.items() if n.endswith("_where"))
        full = sum(v for (r, n), v in files.items() if n.endswith("_filter"))
        n_full = sum(1 for (r, n) in files if n.endswith("_filter"))
        layers["scan.files_live"] = full / n_full if n_full else 0.0
        layers["scan.skip_ratio"] = 1.0 - pruned / full if full else 0.0
    figures = dict(layers)
    figures["tails"] = {"ingest_lag": {"p": lt[0] if lt else None, "n": len(lags)},
                        "write": {"p": wt[0] if wt else None, "n": len(wall("write"))},
                        "read": {"p": rt[0] if rt else None, "n": len(wall("read"))}}
    return figures, layers
