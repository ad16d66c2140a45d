"""Output checks. Every expected answer is computed with DuckDB over the
generated inputs, never with the code under test. Each check returns the
number of operations it verified and the list of mismatches."""
import datetime as dt
import decimal
import math
import os

import duckdb

EPOCH = dt.datetime(1970, 1, 1)


def _norm(v):
    if isinstance(v, dt.datetime):
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return (dt.datetime(v.year, v.month, v.day) - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def _rows(con, sql, params=()):
    return [[_norm(v) for v in r] for r in con.execute(sql, list(params)).fetchall()]


# ------------------------------------------------------------------ api_read

REV = ("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)))"
       " AS DOUBLE)")


def _order(sort, asc):
    return f"{sort} {'ASC' if asc else 'DESC'}"


def api_expected(con, q):
    k = q["kind"]
    if k == "customer_history":
        where, ps = ["o_custkey = ?"], [q["cust"]]
        if q["start"]:
            where.append("o_orderdate >= CAST(? AS TIMESTAMP)"); ps.append(q["start"])
        if q["end"]:
            where.append("o_orderdate <= CAST(? AS TIMESTAMP)"); ps.append(q["end"])
        return _rows(con, f"""SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice FROM orders
            WHERE {' AND '.join(where)} ORDER BY {_order(q['sort'], q['asc'])}, o_orderkey
            LIMIT {q['limit']} OFFSET {q['offset']}""", ps)
    if k == "category_lookup":
        return _rows(con, """SELECT n_nationkey, n_name, r_name FROM nation JOIN region
            ON n_regionkey = r_regionkey WHERE n_nationkey = ?""", [q["nation"]])
    if k == "hierarchy":
        return _rows(con, """SELECT level, name, parent FROM (
            SELECT 'region' AS level, r_name AS name, CAST(NULL AS VARCHAR) AS parent FROM region
            UNION ALL SELECT 'nation', n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey)
            ORDER BY level, name""")
    if k == "product_sales":
        filt, ps = "p_brand = ?", [q["brand"]]
        if q["brand"] is None:
            filt, ps = "p_partkey = ?", [q["part"]]
        return _rows(con, f"""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, l_linenumber, p_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey JOIN part ON l_partkey = p_partkey
            WHERE o_orderdate BETWEEN CAST(? AS TIMESTAMP) AND CAST(? AS TIMESTAMP)
              AND o_orderstatus NOT IN ('F') AND {filt}
            ORDER BY {_order(q['sort'], q['asc'])}, o_orderkey, l_linenumber, p_partkey
            LIMIT {q['limit']} OFFSET {q['offset']}""", [q["start"], q["end"]] + ps)
    if k == "paginate":
        return _rows(con, f"""SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus FROM orders
            ORDER BY {_order(q['sort'], q['asc'])}, o_orderkey LIMIT {q['limit']} OFFSET {q['offset']}""")
    if k == "price_update":
        n, nu, s = con.execute("""SELECT count(*), count(*) FILTER (WHERE p_partkey = ?),
            sum(CASE WHEN p_partkey = ? THEN ? ELSE p_retailprice END) FROM part""",
                               [q["part"], q["part"], q["price"]]).fetchone()
        upd = _rows(con, """SELECT p_partkey, p_name, p_retailprice, CAST(? AS DOUBLE), true
            FROM part WHERE p_partkey = ?""", [q["price"], q["part"]])
        return {"n": n, "n_updated": nu, "sum_new_price": s, "updated": upd[0] if upd else None}
    if k == "top_sellers":
        return _rows(con, f"""SELECT r_name, s_suppkey, s_name, sum(l_quantity), {REV} AS revenue,
            count(DISTINCT l_orderkey) FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2, 3 ORDER BY revenue DESC, s_suppkey LIMIT {q['k']}""")
    if k == "sales_trends":
        return _rows(con, f"""SELECT CAST(date_trunc('{q['unit']}', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS b,
            {REV}, count(DISTINCT o_orderkey) FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{q['dim_start']}' AND DATE '{q['dim_end']}'
            GROUP BY 1 ORDER BY 1""")
    raise ValueError(k)


def check_api(data_dir, replies):
    con = duckdb.connect()
    for t in ("region", "nation", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad, cache = [], {}
    for r in replies:
        q = r["req"]
        if not r["ok"]:
            bad.append(f"request {q['id']} ({q['kind']}) failed")
            continue
        key = repr(sorted((k, v) for k, v in q.items() if k != "id"))
        if key not in cache:
            cache[key] = api_expected(con, q)
        want, got = cache[key], r["rows"]
        if q["kind"] == "price_update":
            ok = (got["n"] == want["n"] and got["n_updated"] == want["n_updated"]
                  and same(got["sum_new_price"], want["sum_new_price"])
                  and same_rows([got["updated"] or []], [want["updated"] or []]))
        else:
            ok = same_rows(got, want)
        if not ok:
            bad.append(f"request {q['id']} ({q['kind']}) reply differs from the oracle")
    return len(replies), bad


# ----------------------------------------------------------------- etl_write

_CSV_TYPES = {
    "product_categories": "{'category_id': 'INTEGER', 'name': 'VARCHAR', 'description': 'VARCHAR', "
                          "'parent_id': 'INTEGER', 'created_at': 'TIMESTAMP'}",
    "products": "{'product_id': 'INTEGER', 'name': 'VARCHAR', 'description': 'VARCHAR', "
                "'price': 'DECIMAL(10,2)', 'cost': 'DECIMAL(10,2)', 'category_id': 'INTEGER', "
                "'sku': 'VARCHAR', 'inventory_count': 'INTEGER', 'weight': 'DECIMAL(8,2)', "
                "'created_at': 'TIMESTAMP', 'is_active': 'BOOLEAN'}",
    "customers": "{'customer_id': 'INTEGER', 'email': 'VARCHAR', 'first_name': 'VARCHAR', "
                 "'last_name': 'VARCHAR', 'street_address': 'VARCHAR', 'city': 'VARCHAR', "
                 "'state': 'VARCHAR', 'zip_code': 'VARCHAR', 'country': 'VARCHAR', 'phone': 'VARCHAR', "
                 "'registration_date': 'TIMESTAMP', 'last_login': 'TIMESTAMP'}",
    "orders": "{'order_id': 'INTEGER', 'customer_id': 'INTEGER', 'order_date': 'TIMESTAMP', "
              "'status': 'VARCHAR', 'payment_method': 'VARCHAR', 'shipping_address': 'VARCHAR', "
              "'shipping_city': 'VARCHAR', 'shipping_state': 'VARCHAR', 'shipping_zip': 'VARCHAR', "
              "'shipping_country': 'VARCHAR', 'processing_date': 'TIMESTAMP', "
              "'shipping_date': 'TIMESTAMP', 'delivery_date': 'TIMESTAMP', 'total_amount': 'DECIMAL(12,2)'}",
    "order_items": "{'order_item_id': 'INTEGER', 'order_id': 'INTEGER', 'product_id': 'INTEGER', "
                   "'quantity': 'INTEGER', 'price': 'DECIMAL(10,2)', 'discount': 'DECIMAL(10,2)', "
                   "'total': 'DECIMAL(10,2)'}",
}
STATUS_DOMAIN = "('Pending','Processing','Shipped','In Transit','Delivered','Cancelled','Returned')"
DIM_DAYS = 1826  # 2021-01-01 .. 2025-12-31, Pipeline.Config's default dim_time span


def _etl_views(con, d, p):
    """Cleaned relations of one CSV dir, with the pipeline's semantics."""
    for t, types in _CSV_TYPES.items():
        con.execute(f"""CREATE OR REPLACE VIEW {p}_{t}_raw AS SELECT * FROM read_csv('{d}/{t}.csv',
            header=true, columns={types}, timestampformat='%Y-%m-%d %H:%M:%S')""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_cats AS SELECT * FROM {p}_product_categories_raw
        WHERE category_id IS NOT NULL AND name IS NOT NULL""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_prods AS SELECT * FROM {p}_products_raw
        WHERE product_id IS NOT NULL AND name IS NOT NULL AND price IS NOT NULL""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_orders_nn AS SELECT * FROM {p}_orders_raw
        WHERE order_id IS NOT NULL AND customer_id IS NOT NULL AND order_date IS NOT NULL""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_orders AS SELECT * FROM {p}_orders_nn
        WHERE status IN {STATUS_DOMAIN}""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_custs AS SELECT * FROM {p}_customers_raw
        WHERE customer_id IS NOT NULL AND email IS NOT NULL""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_items AS SELECT * REPLACE (
        CAST(price * quantity - discount AS DECIMAL(10,2)) AS total) FROM {p}_order_items_raw""")
    con.execute(f"""CREATE OR REPLACE VIEW {p}_daily AS
        SELECT date_trunc('day', o.order_date) AS date, i.product_id, p.category_id,
               sum(CAST(i.total AS DECIMAL(18,2))) AS revenue
        FROM {p}_items i LEFT JOIN {p}_orders o USING (order_id)
        LEFT JOIN (SELECT product_id, category_id FROM {p}_prods) p USING (product_id)
        GROUP BY 1, 2, 3""")


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


def etl_expected(data_dir):
    con = duckdb.connect()
    _etl_views(con, f"{data_dir}/base", "b")
    _etl_views(con, f"{data_dir}/delta", "d")
    live = "status NOT IN ('Cancelled', 'Returned')"

    def summaries(p):
        pss = _one(con, f"""SELECT count(*) FROM (SELECT DISTINCT i.product_id, p.name, c.name
            FROM {p}_items i JOIN (SELECT * FROM {p}_orders WHERE {live}) o USING (order_id)
            JOIN {p}_prods p USING (product_id) LEFT JOIN {p}_cats c USING (category_id))""")
        cps = _one(con, f"""SELECT count(*) FROM (SELECT DISTINCT c.customer_id, c.email, c.first_name,
            c.last_name FROM {p}_custs c JOIN (SELECT * FROM {p}_orders WHERE {live}) o USING (customer_id))""")
        return pss, cps

    def pk(p, t, k):
        return _one(con, f"SELECT count(DISTINCT {k}) FROM {p}_{t}")

    def quarantine(p):
        return _one(con, f"SELECT count(*) FROM {p}_orders_nn WHERE status NOT IN {STATUS_DOMAIN}")

    def fresh(p):
        """Table counts after loading dir `p` into an empty warehouse."""
        pss, cps = summaries(p)
        return {"dim_time": DIM_DAYS, "product_categories": pk(p, "cats", "category_id"),
                "products": pk(p, "prods", "product_id"), "orders": pk(p, "orders", "order_id"),
                "orders_quarantine": quarantine(p), "customers": pk(p, "custs", "customer_id"),
                "order_items": pk(p, "items", "order_item_id"),
                "daily_sales_aggregation": _one(con, f"SELECT count(*) FROM {p}_daily"),
                "product_sales_summary": pss, "customer_purchase_summary": cps}

    load = fresh("b")
    d_pss, d_cps = summaries("d")

    def union_pk(t, k):
        return _one(con, f"SELECT count(*) FROM (SELECT {k} FROM b_{t} UNION SELECT {k} FROM d_{t})")

    daily_after = _one(con, """SELECT (SELECT count(*) FROM b_daily b WHERE NOT EXISTS
        (SELECT 1 FROM d_daily d WHERE d.date IS NOT DISTINCT FROM b.date)) + (SELECT count(*) FROM d_daily)""")
    delta = {"dim_time": DIM_DAYS, "product_categories": union_pk("cats", "category_id"),
             "products": union_pk("prods", "product_id"), "orders": union_pk("orders", "order_id"),
             "orders_quarantine": quarantine("d"), "customers": union_pk("custs", "customer_id"),
             "order_items": union_pk("items", "order_item_id"),
             "daily_sales_aggregation": daily_after,
             "product_sales_summary": d_pss, "customer_purchase_summary": d_cps}
    def revenue(p):
        return {("null" if k is None else k.strftime("%Y-%m-%d %H:%M:%S")): float(v) for k, v in
                con.execute(f"SELECT date, CAST(sum(revenue) AS DOUBLE) FROM {p}_daily GROUP BY 1").fetchall()}

    # the delta overwrites exactly the date partitions it carries
    after = revenue("b")
    after.update(revenue("d"))
    return {"load": load, "rerun": load, "delta": delta,
            "daily_revenue": {"load": revenue("b"), "delta": after}}


def warehouse_daily_revenue(wh):
    """Revenue per date partition of a warehouse's daily aggregate."""
    import glob
    import urllib.parse
    con = duckdb.connect()
    out = {}
    for part in sorted(glob.glob(f"{wh}/daily_sales_aggregation/date=*")):
        key = urllib.parse.unquote(os.path.basename(part)[len("date="):])
        files = sorted(glob.glob(f"{part}/*.parquet"))
        if files:
            out["null" if key == "__HIVE_DEFAULT_PARTITION__" else key] = con.execute(
                "SELECT sum(revenue) FROM read_parquet(?)", [files]).fetchone()[0]
    return out


def check_etl(data_dir, cycles):
    exp = etl_expected(data_dir)
    bad, n = [], 0
    for c in cycles:
        steps = [k for k in ("load", "rerun", "delta") if k in c]
        for step in steps:
            n += 1
            if c[step] != exp[step]:
                diff = {k: (c[step].get(k), v) for k, v in exp[step].items() if c[step].get(k) != v}
                bad.append(f"cycle {c['cycle']} {step}: table counts (got, want) {diff or c[step]}")
        got = warehouse_daily_revenue(c["warehouse"])
        want = exp["daily_revenue"][steps[-1] if steps[-1] != "rerun" else "load"]
        if set(got) != set(want) or not all(same(got[k], want[k]) for k in want):
            bad.append(f"cycle {c['cycle']}: daily revenue differs from the generated data")
    return n, bad


# ------------------------------------------------------------- stream_ingest

def stream_expected(data_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')")
    n_docs = _one(con, f"SELECT count(*) FROM read_parquet('{data_dir}/documents.parquet')")
    n_queries = _one(con, f"SELECT count(*) FROM read_parquet('{data_dir}/embeddings.parquet') WHERE vec_id % 5 = 1")
    # session_window(ts, 30 minutes): a gap of >= 30 minutes starts a new session
    sessions = _rows(con, """WITH e AS (SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk, event_id FROM events),
        s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM e)
        SELECT min(ts), max(ts) + INTERVAL 30 MINUTE, user_id, count(*),
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        FROM s GROUP BY user_id, sid ORDER BY 3, 1""")
    tumbling = _rows(con, """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS b, event_type, count(*),
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
    return n_docs, n_queries, sessions, tumbling


def _summary(rows, i_n, i_v):
    return {"n": len(rows), "n_events": float(sum(r[i_n] for r in rows)),
            "value_sum": sum(r[i_v] for r in rows)}


def check_stream(data_dir, iterations):
    n_docs, n_queries, sessions, tumbling = stream_expected(data_dir)
    s_sum, t_sum = _summary(sessions, 3, 4), _summary(tumbling, 2, 3)
    bad, n = [], 0
    for it in iterations:
        i = it["iteration"]
        n += 4
        if it["dedup"] != [n_docs, True, True]:
            bad.append(f"iteration {i}: dedup ingest returned {it['dedup']}, want [{n_docs}, true, true]")
        if it["ann"] != [n_queries, True, True]:
            bad.append(f"iteration {i}: ANN serving returned {it['ann']}, want [{n_queries}, true, true]")
        for name, want in (("session", s_sum), ("tumbling", t_sum)):
            got = it[name]
            if not all(same(got[k], want[k]) for k in want):
                bad.append(f"iteration {i}: {name} output summary {got} != {want}")
        if "session_rows" in it:
            got = sorted(it["session_rows"], key=lambda r: (r[2], r[0]))
            if not same_rows(got, sessions):
                bad.append(f"iteration {i}: session window rows differ from the oracle")
            got = sorted(it["tumbling_rows"], key=lambda r: (r[0], r[1]))
            if not same_rows(got, tumbling):
                bad.append(f"iteration {i}: tumbling window rows differ from the oracle")
    return n, bad


def check(workload, data_dir, replies):
    return {"api_read": check_api, "etl_write": check_etl,
            "stream_ingest": check_stream}[workload](data_dir, replies)
