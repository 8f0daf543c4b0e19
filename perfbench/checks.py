"""Output checks: registry results against the DuckDB oracle
(`SparkEntry.oracleSql`), and the lakehouse against an independent DuckDB
mirror of the same seeded statements."""
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def rows_of(con, sql):
    """(sorted column names, sorted normalized rows) of a query."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(norm(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def compare(got, want):
    """None when equal, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    diffs = [(a, b) for a, b in zip(gr, wr) if a != b]
    if diffs:
        return f"{len(diffs)}/{len(gr)} rows differ; first {diffs[0][0]} != {diffs[0][1]}"
    return None


def self_test(want):
    """A corrupted copy of an expected result must be caught."""
    cols, rows = want
    if not rows:
        bad = (cols, [tuple("x" for _ in cols)])
    else:
        first = list(rows[0])
        first[0] = first[0] + "0"
        bad = (cols, [tuple(first)] + rows[1:])
    return compare(bad, want) is not None


def check_registry(con, data, out, res):
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isfile(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    errors, summary, tested = [], {}, False
    self_ok = True
    for k in sorted(oracle):
        try:
            got = rows_of(con, f"SELECT * FROM read_parquet('{out}/verify/{k}/*.parquet')")
            want = rows_of(con, oracle[k])
        except Exception as e:  # an oracle or read error fails the key
            errors.append(f"{k}: {str(e).splitlines()[0]}")
            summary[k] = "error"
            continue
        why = compare(got, want)
        if why:
            errors.append(f"{k}: {why}")
        summary[k] = "FAIL" if why else f"pass ({len(want[1])} rows)"
        if not tested and want[1]:
            self_ok, tested = self_test(want), True
    return {"errors": errors, "summary": summary, "self_test_ok": self_ok,
            "extra_attempted": len(oracle), "extra_failed": len(errors)}


def q(values, p):
    """The p-th percentile (0..100) by linear interpolation."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values):
    """(percentile, value): the highest of p50/p75/p90/p95/p99 with at
    least ten samples above it, or None when there are too few samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p, q(values, p)
    return None


def check(con, workload, data, out, res):
    if workload == "lakehouse":
        import lakecheck
        return lakecheck.check(con, data, out, res)
    return check_registry(con, data, out, res)
