"""Output checks for the service benchmark.

Each checker takes the run record the JVM wrote and the fixture
directory. It returns a list of (op index, message) failures, where the
index is "run" for a check over the whole run, and a dict of the values
the checks computed. Relational endpoint results, lake counts and the
exact nearest neighbours are recomputed with DuckDB on the same parquet
files, outside the timed window.
"""
import datetime
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
TIMESTAMPS = {"orders": "o_orderdate", "lineitem": "l_shipdate", "events": "ts"}


def connect(data):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet", "*.parquet")
        cols = "*"
        if t in TIMESTAMPS:
            c = TIMESTAMPS[t]
            cols = f"* REPLACE (CAST({c} AS TIMESTAMP) AS {c})"
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM read_parquet('{path}')")
    return con


REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))"


def dsum(x):
    return f"CAST(SUM(CAST({x} AS DECIMAL(38,6))) AS DOUBLE)"


def endpoint_sql(ep, p):
    """(sql, params, rounded columns) computing what the endpoint returns."""
    win = "o_orderdate >= CAST(? AS TIMESTAMP) AND o_orderdate < CAST(? AS TIMESTAMP)"
    ship = "l_shipdate >= CAST(? AS TIMESTAMP) AND l_shipdate < CAST(? AS TIMESTAMP)"
    if ep == "revenueByOrderDate":
        seg = ""
        args = [p["from"], p["until"]]
        if p["segment"] is not None:
            seg = " AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = ?)"
            args.append(p["segment"])
        return (f"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
            CAST(SUM({REV}) AS DOUBLE) AS revenue, COUNT(DISTINCT o_orderkey) AS n_orders
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE {win}{seg} GROUP BY 1 ORDER BY 1""", args, ())
    if ep == "nationSummary":
        where, args = ("WHERE r_name = ?", [p["region"]]) if p["region"] is not None else ("", [])
        return (f"""SELECT n_name AS nation, r_name AS region, COUNT(*) AS n_cust,
            {dsum('c_acctbal')} AS sum_bal, ROUND({dsum('c_acctbal')} / COUNT(*), 4) AS avg_bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey {where}
            GROUP BY 1, 2 ORDER BY region, nation""", args, ("avg_bal",))
    if ep == "topCustomers":
        return (f"""WITH s AS (SELECT o_custkey, {dsum('o_totalprice')} AS spend,
              COUNT(*) AS n_orders FROM orders WHERE {win} GROUP BY 1),
            r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rank FROM s)
            SELECT rank, o_custkey AS custkey, c_name, spend, n_orders
            FROM r LEFT JOIN customer ON o_custkey = c_custkey
            WHERE rank <= ? ORDER BY rank""", [p["from"], p["until"], p["k"]], ())
    if ep == "eventActivity":
        et, args = "", [p["from"], p["until"]]
        if p["event_type"] is not None:
            et = " AND event_type = ?"
            args.append(p["event_type"])
        return (f"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, COUNT(*) AS n,
            {dsum('value')} AS sum_value FROM events
            WHERE ts >= CAST(? AS TIMESTAMP) AND ts < CAST(? AS TIMESTAMP){et}
            GROUP BY 1, 2 ORDER BY 1, 2""", args, ())
    if ep == "supplierRevenue":
        nat, args = "", [p["from"], p["until"]]
        if p["nation"] is not None:
            nat = " AND n_name = ?"
            args.append(p["nation"])
        return (f"""SELECT n_name AS nation, CAST(SUM({REV}) AS DOUBLE) AS revenue,
            {dsum('l_quantity')} AS qty, COUNT(DISTINCT l_suppkey) AS n_suppliers
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE {ship}{nat} GROUP BY 1 ORDER BY 1""", args, ())
    if ep == "partTypeShare":
        br, args = "", [p["from"], p["until"]]
        if p["brand"] is not None:
            br = " AND p_brand = ?"
            args.append(p["brand"])
        return (f"""WITH r AS (SELECT p_type AS part_type, SUM({REV}) AS rev_dec,
              COUNT(*) AS n_lines FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE {ship}{br} GROUP BY 1)
            SELECT part_type, CAST(rev_dec AS DOUBLE) AS revenue, n_lines,
              ROUND(CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE), 4) AS share
            FROM r ORDER BY 1""", args, ("share",))
    if ep == "returnedItems":
        return (f"""WITH l AS (SELECT o_custkey, CAST(SUM({REV}) AS DOUBLE) AS lost_revenue,
              COUNT(*) AS n_lines FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R' AND {win} GROUP BY 1),
            r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY lost_revenue DESC, o_custkey) AS rank FROM l)
            SELECT rank, o_custkey AS custkey, c_name, n_name AS nation, lost_revenue, n_lines
            FROM r LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            WHERE rank <= ? ORDER BY rank""", [p["from"], p["until"], p["k"]], ())
    if ep == "marketShare":
        return (f"""WITH a AS (SELECT r_name AS region, p_type AS part_type,
              year(o_orderdate) AS yr, SUM({REV}) AS rev_dec
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN part ON l_partkey = p_partkey JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
              WHERE {win} GROUP BY 1, 2, 3)
            SELECT region, part_type, yr, CAST(rev_dec AS DOUBLE) AS revenue,
              ROUND(CAST(rev_dec AS DOUBLE) /
                CAST(SUM(rev_dec) OVER (PARTITION BY region, yr) AS DOUBLE), 4) AS share
            FROM a ORDER BY region, yr, part_type""", [p["from"], p["until"]], ("share",))
    raise ValueError(ep)


def norm(v):
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    return v


def same(a, b, rounded):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool):
        if rounded:
            return abs(a - b) <= 1.01e-4
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(cols, got, want, rounded):
    if len(got) != len(want):
        return f"{len(got)} rows, DuckDB has {len(want)}"
    for n, (g, w) in enumerate(zip(got, want)):
        for c, x, y in zip(cols, g, [norm(v) for v in w]):
            if not same(x, y, c in rounded):
                return f"row {n} column {c}: {x!r} != DuckDB {y!r}"
    return None


def check_search(p, cols, rows, n_embeddings):
    """The dense leg alone ranks every other embedding, so the fused list
    holds k rows whenever the corpus has more than k embeddings."""
    idx = {c: i for i, c in enumerate(cols)}
    ranks = [r[idx["rank"]] for r in rows]
    ids = [r[idx["doc_id"]] for r in rows]
    if not min(p["k"], n_embeddings - 1) <= len(rows) <= p["k"]:
        return f"{len(rows)} results, asked for {p['k']}"
    if ranks != list(range(1, len(rows) + 1)):
        return f"ranks {ranks} are not 1..{len(rows)}"
    if p["probe_id"] in ids:
        return "the probe's own document was returned"
    if len(set(ids)) != len(ids):
        return "duplicate documents"
    return None


def service_mix(rec, data):
    con = connect(data)
    fails, cache = [], {}
    for op in rec["warmup"] + rec["ops"]:
        if not op["ok"]:
            fails.append((op["i"], op["err"]))
            continue
        ch = op["check"]
        ep, p = ch["endpoint"], ch["params"]
        if ep == "searchDocuments":
            err = check_search(p, ch["columns"], ch["rows"],
                               rec["facts"]["embeddings"])
        else:
            sql, args, rounded = endpoint_sql(ep, p)
            key = (ep, repr(sorted(p.items())))
            if key not in cache:
                cache[key] = con.execute(sql, args).fetchall()
            err = compare(ch["columns"], ch["rows"], cache[key], rounded)
        if err:
            fails.append((op["i"], f"{ep}: {err}"))
    con.close()
    return fails, {}


def same_each_round(rec, keys):
    """Every round, warm-up included, must report the same values."""
    fails, first = [], None
    for op in rec["warmup"] + rec["ops"]:
        if not op["ok"]:
            fails.append((op["i"], op["err"]))
            continue
        v = {k: op["check"][k] for k in keys}
        if first is None:
            first = v
        elif v != first:
            fails.append((op["i"], f"round differs from the first: {v} vs {first}"))
    return fails, first


RECALL_FLOOR = 0.7


def exact_top10(con, probes):
    """The exact cosine top-10 of every probe, the probe itself excluded."""
    rows = con.execute(f"""
        WITH s AS (SELECT p.vec_id AS pid, e.vec_id,
              list_cosine_similarity(p.embedding, e.embedding) AS cs
            FROM embeddings p JOIN embeddings e ON e.vec_id <> p.vec_id
            WHERE p.vec_id IN ({",".join(str(int(p)) for p in probes)}))
        SELECT pid, vec_id FROM s
        QUALIFY row_number() OVER (PARTITION BY pid ORDER BY cs DESC, vec_id) <= 10
        """).fetchall()
    out = {}
    for p, x in rows:
        out.setdefault(p, set()).add(x)
    return out


def lake_etl(rec, data):
    """The lake counts must match DuckDB's; the curation and model stages
    must agree across rounds, and the ANN search must reach the recall
    floor against the exact cosine top-10."""
    lake_keys = ("copy_rows", "merge_rows", "merge_changed", "scd_rows",
                 "scd_current", "sales_rows", "readback_rows", "audit")
    fails, v = same_each_round(rec, lake_keys + (
        "docs", "kept", "pairs", "clusters", "clean",
        "related", "communities", "recs", "ann", "quality"))
    if v is None:
        return fails, {}
    f = rec["facts"]
    con = connect(data)
    q = lambda s: con.execute(s).fetchone()[0]
    want = {
        "copy_rows": {"lineitem": q("SELECT COUNT(*) FROM lineitem"),
                      "orders": q("SELECT COUNT(*) FROM orders")},
        "merge_rows": q("SELECT COUNT(*) FROM customer") + f["inserts"] - f["deletes"],
        "merge_changed": f["updates"] + f["inserts"],
        "scd_rows": q("SELECT COUNT(*) FROM events"),
        "scd_current": q("SELECT COUNT(DISTINCT user_id) FROM events"),
        "sales_rows": q("SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"),
        "readback_rows": q(f"""SELECT COUNT(*) FROM lineitem JOIN orders
            ON l_orderkey = o_orderkey WHERE year(o_orderdate) = {int(f['year'])}"""),
    }

    def anti(left, lk, right, rk):
        return q(f"SELECT COUNT(*) FROM {left} a WHERE NOT EXISTS "
                 f"(SELECT 1 FROM {right} b WHERE b.{rk} = a.{lk})")
    want["audit"] = {
        "customers_without_orders": anti("customer", "c_custkey", "orders", "o_custkey"),
        "lineitems_without_order": anti("lineitem", "l_orderkey", "orders", "o_orderkey"),
        "orders_without_customer": anti("orders", "o_custkey", "customer", "c_custkey"),
        "orders_without_lineitems": anti("orders", "o_orderkey", "lineitem", "l_orderkey"),
        "parts_never_shipped": anti("part", "p_partkey", "lineitem", "l_partkey"),
        "suppliers_never_shipped": anti("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    }
    exact = exact_top10(con, f["probes"])
    con.close()
    for k in lake_keys:
        if v[k] != want[k]:
            fails.append(("run", f"{k}: {v[k]} != expected {want[k]}"))
    if not 0 < v["clean"] <= v["clusters"] <= v["kept"] <= v["docs"]:
        fails.append(("run", "curation counts out of order: " + str(
            {k: v[k] for k in ("docs", "kept", "clusters", "clean")})))
    rel = v["related"]
    if not rel or len(set(rel)) != len(rel) or f["seed_part"] in rel:
        fails.append(("run", f"related parts empty, not distinct or include the seed: {rel}"))
    hits = sum(1 for p, x in v["ann"] if x in exact.get(p, ()))
    recall = hits / (10 * len(f["probes"]))
    if recall < RECALL_FLOOR:
        fails.append(("run", f"recall_at_10 {recall} < {RECALL_FLOOR}"))
    return fails, {"recall_at_10": recall}


CHECKS = {"service_mix": service_mix, "lake_etl": lake_etl}
