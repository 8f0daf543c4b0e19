"""Seeded input generation for the graft benchmark (DuckDB, no Spark).

Every table mirrors the column names and types of the engine's TPC-H-like
fixture, so the registry's `q_*` builders and their `oracleSql` twins run
unchanged. Values come from `hash(row, column, seed)`: one seed always gives
the same bytes, and row counts never depend on the seed, so the seed varies
the data, not the amount of work.
"""
import json
import os

import duckdb

# Row counts per workload. Fixed: the seed changes values, never sizes.
ORDERS = 20000          # lineitem ~ 4 x ORDERS (1..7 lines per order)
DOCUMENTS = 200
EMBEDDINGS = 200
LAKE_BASE = 20000       # rows in the table before ingest starts

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector").split()


def _u(seed, salt, expr="i"):
    """A uniform non-negative BIGINT from (row, salt, seed)."""
    return _h(expr, salt, seed)


def _h(*parts):
    return "CAST(hash(" + ", ".join(str(p) for p in parts) + ") >> 1 AS BIGINT)"


def _write(con, sql, path):
    con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def tpch(con, out, seed):
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_supp, n_part = ORDERS // 10, ORDERS // 150, ORDERS * 2 // 15
    _write(con, """SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
                 (3, 'EUROPE'), (4, 'MIDDLE EAST')) r(r_regionkey, r_name)""",
           f"{out}/region.parquet")
    _write(con, """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                 CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
           f"{out}/nation.parquet")
    _write(con, f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
                 CAST({_u(seed, 1)} % 25 AS INTEGER) AS c_nationkey,
                 round(-999.99 + ({_u(seed, 2)} % 1099740) / 100.0, 2) AS c_acctbal,
                 ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                  'MACHINERY'][1 + {_u(seed, 3)} % 5] AS c_mktsegment
               FROM range({n_cust}) t(i)""", f"{out}/customer.parquet")
    _write(con, f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
                 CAST({_u(seed, 4)} % 25 AS INTEGER) AS s_nationkey,
                 round(-999.99 + ({_u(seed, 5)} % 1099740) / 100.0, 2) AS s_acctbal
               FROM range({n_supp}) t(i)""", f"{out}/supplier.parquet")
    _write(con, f"""SELECT i AS p_partkey,
                 ['small', 'red', 'blue', 'gold', 'green', 'olive'][1 + {_u(seed, 6)} % 6]
                   || ' ' || ['ring', 'widget', 'bolt', 'gear', 'spool'][1 + {_u(seed, 7)} % 5]
                   AS p_name,
                 'Brand#' || (1 + {_u(seed, 8)} % 25) AS p_brand,
                 ['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM',
                  'PROMO'][1 + {_u(seed, 9)} % 6] AS p_type,
                 CAST(1 + {_u(seed, 10)} % 50 AS INTEGER) AS p_size,
                 900.0 + (i % 1000) / 10.0 AS p_retailprice
               FROM range({n_part}) t(i)""", f"{out}/part.parquet")
    con.sql(f"""CREATE OR REPLACE TEMP TABLE g_orders AS
               SELECT i AS o_orderkey, {_u(seed, 11)} % {n_cust} AS o_custkey,
                 ['F', 'O', 'P'][1 + {_u(seed, 12)} % 3] AS o_orderstatus,
                 round(1000.0 + ({_u(seed, 13)} % 49900000) / 100.0, 2) AS o_totalprice,
                 TIMESTAMP '1995-01-01' + to_days(CAST({_u(seed, 14)} % 2403 AS INTEGER))
                   AS o_orderdate,
                 ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                  '5-LOW'][1 + {_u(seed, 15)} % 5] AS o_orderpriority,
                 CAST(1 + {_u(seed, 16)} % 7 AS INTEGER) AS n_lines
               FROM range({ORDERS}) t(i)""")
    _write(con, """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, o_orderpriority FROM g_orders""", f"{out}/orders.parquet")
    li = "o_orderkey * 8 + l_linenumber"
    _write(con, f"""SELECT o_orderkey AS l_orderkey,
                 {_u(seed, 21, li)} % {n_part} AS l_partkey,
                 {_u(seed, 22, li)} % {n_supp} AS l_suppkey,
                 l_linenumber,
                 CAST(1 + {_u(seed, 23, li)} % 50 AS DOUBLE) AS l_quantity,
                 round(900.0 + ({_u(seed, 24, li)} % 10410000) / 100.0, 2) AS l_extendedprice,
                 ({_u(seed, 25, li)} % 11) / 100.0 AS l_discount,
                 ({_u(seed, 26, li)} % 9) / 100.0 AS l_tax,
                 ['A', 'N', 'R'][1 + {_u(seed, 27, li)} % 3] AS l_returnflag,
                 ['F', 'O'][1 + {_u(seed, 28, li)} % 2] AS l_linestatus,
                 o_orderdate + to_days(CAST(1 + {_u(seed, 29, li)} % 120 AS INTEGER))
                   AS l_shipdate
               FROM (SELECT o_orderkey, o_orderdate,
                       CAST(unnest(range(1, n_lines + 1)) AS INTEGER) AS l_linenumber
                     FROM g_orders)""", f"{out}/lineitem.parquet")


def documents(con, out, seed):
    """documents: word sequences over a 30-word vocabulary."""
    vocab = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    _write(con, f"""SELECT doc_id, text,
                 ['en', 'en', 'en', 'es', 'zh', 'de', 'fr'][1 + {_h('doc_id', '31', seed)} % 7]
                   AS lang,
                 'src' || (doc_id % 20) AS source, CAST(length(text) AS BIGINT) AS n_chars
               FROM (SELECT doc_id, string_agg({vocab}[1 + {_h('doc_id', 'j', '32', seed)} % {len(WORDS)}],
                              ' ' ORDER BY j) AS text
                     FROM (SELECT i AS doc_id,
                             unnest(range(20 + CAST({_h('i', '33', seed)} % 60 AS BIGINT))) AS j
                           FROM range({DOCUMENTS}) t(i))
                     GROUP BY doc_id)""", f"{out}/documents.parquet")


def embeddings(con, out, seed):
    """embeddings: 64-dim unit vectors around ten seeded cluster centres."""
    _write(con, f"""WITH c AS (
                   SELECT k, list(({_h('k', 'd', '41', seed)} % 2001 - 1000) / 1000.0 ORDER BY d) AS cv
                   FROM range(10) a(k), range(64) b(d) GROUP BY k),
                 v AS (
                   SELECT i AS vec_id, CAST({_h('i', '42', seed)} % 10 AS INTEGER) AS label,
                     list_transform(range(64), d ->
                       ({_h('i', 'd', '43', seed)} % 2001 - 1000) / 8000.0) AS noise
                   FROM range({EMBEDDINGS}) t(i)),
                 r AS (
                   SELECT vec_id, label,
                     list_transform(range(64), d -> cv[d + 1] + noise[d + 1]) AS raw
                   FROM v JOIN c ON k = label)
               SELECT vec_id,
                 CAST(list_transform(raw, x -> x / sqrt(list_sum(list_transform(raw, y -> y * y))))
                   AS FLOAT[]) AS embedding,
                 label
               FROM r ORDER BY vec_id""", f"{out}/embeddings.parquet")


# Lakehouse event stream. Event time advances EVENT_SPAN_S per file; a row
# arrives at most DISORDER_S late and a re-send repeats an event from at most
# RESEND_BACK files earlier — both far inside the stream's 1 hour watermark,
# so deduplication never drops a first copy as late.
EVENT_T0 = 1_704_067_200          # 2024-01-01 00:00:00 UTC
EVENT_SPAN_S = 10
DISORDER_S = 30
RESEND_BACK = 3
LAKE_TYPES = ["click", "view", "cart", "buy"]


def _events_sql(seed, lo, hi):
    """Fresh events with ids in [lo, hi): the base table and every file."""
    types = "[" + ", ".join(f"'{t}'" for t in LAKE_TYPES) + "]"
    return f"""SELECT i AS event_id,
                 to_timestamp({EVENT_T0} + (i - {LAKE_BASE}) * {EVENT_SPAN_S} // ROWS_PER_FILE
                              - {_h('i', '51', seed)} % {DISORDER_S}) AS ts,
                 CAST({_h('i', '52', seed)} % 500 AS BIGINT) AS user_id,
                 {types}[1 + {_h('i', '53', seed)} % 4] AS event_type,
                 CAST({_h('i', '54', seed)} % 100000 AS BIGINT) AS value
               FROM range({lo}, {hi}) t(i)"""


def lake(con, out, seed, n_files, rows_per_file, resend_per_file):
    """Base table rows plus `n_files` ingest files, written to `out`.

    File f holds the fresh ids [LAKE_BASE + f*R, LAKE_BASE + (f+1)*R) in a
    seeded order, plus `resend_per_file` exact copies of rows from the
    previous RESEND_BACK files (or of its own rows for the first file).
    """
    r = rows_per_file
    ev = lambda lo, hi: _events_sql(seed, lo, hi).replace("ROWS_PER_FILE", str(r))
    os.makedirs(f"{out}/files", exist_ok=True)
    _write(con, ev(0, LAKE_BASE).replace(f"(i - {LAKE_BASE})", "0 * i"),
           f"{out}/base.parquet")
    con.sql(f"CREATE OR REPLACE TEMP TABLE g_ev AS {ev(LAKE_BASE, LAKE_BASE + n_files * r)}")
    for f in range(n_files):
        lo = LAKE_BASE + f * r
        back = LAKE_BASE + max(0, f - RESEND_BACK) * r
        hi = lo + r
        resend_hi = lo if f > 0 else hi
        _write(con, f"""SELECT * EXCLUDE (o) FROM (
                   SELECT *, {_h('event_id', '55', seed)} AS o FROM g_ev
                     WHERE event_id >= {lo} AND event_id < {hi}
                   UNION ALL
                   SELECT *, {_h('event_id', f, '56', seed)} AS o FROM g_ev
                     WHERE event_id >= {back} AND event_id < {resend_hi}
                       AND {_h('event_id', f, '57', seed)} % {resend_hi - back}
                           < {resend_per_file})
                 ORDER BY o""", f"{out}/files/f{f:04d}.parquet")


# Ingest schedule (see Lakehouse.scala): files dropped one by one on the
# open-loop clock, then a backlog burst dropped at once.
LAKE_FILES = 30
LAKE_BACKLOG = 10
LAKE_PERIOD_MS = 100
LAKE_ROWS_PER_FILE = 500
LAKE_RESENDS_PER_FILE = 50


def generate(con, workload, out, seed):
    """All inputs one workload reads, written under `out`."""
    if workload == "sql_analytics":
        tpch(con, out, seed)
    elif workload == "graph_iterative":
        tpch(con, out, seed)
        documents(con, out, seed)
        embeddings(con, out, seed)
    else:
        n_files = LAKE_FILES + LAKE_BACKLOG
        lake(con, out, seed, n_files, LAKE_ROWS_PER_FILE, LAKE_RESENDS_PER_FILE)
        with open(os.path.join(out, "lake.json"), "w") as f:
            json.dump({"scheduled": LAKE_FILES, "period_ms": LAKE_PERIOD_MS,
                       "max_id": LAKE_BASE + n_files * LAKE_ROWS_PER_FILE - 1}, f)
