"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, output dir): the same seed
writes byte-identical files. The program under test receives only what
these functions write.

  api_read       TPC-H-shaped parquet tables + the request-parameter stream
  etl_write      reference-schema CSVs (with dirty rows) + an overlapping delta
  stream_ingest  documents / embeddings / events parquet for the stream runners
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Fixed here (never drawn from the seed) so that every seed
# presents the same amount of work.
# TPC-H row ratios at scale factor 0.005 (lineitem ~4 lines per order).
API_SCALE = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500}
API_REQUESTS = 6000          # request stream length (a run consumes a prefix)
# The reference's row ratios (backend-engineer-test.md: 500 categories,
# 100k products, 1M customers, 5M orders, 20M order items) at 1/1000.
# Categories are floored at 6 so the parent/child split has both kinds.
ETL_SIZES = {"categories": 6, "products": 100, "customers": 1000,
             "orders": 5000, "items_per_order": 4, "delta_orders": 1000,
             "order_days": 45}
STREAM_SIZES = {"documents": 300, "embeddings": 400, "events": 4000}

EPOCH = dt.datetime(1970, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404            # 1995-01-01 .. 2001-08-01
DIM_START, DIM_END = "1995-01-01", "2001-08-31"


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _micros(days):
    """Epoch microseconds of midnight, `days` after ORDER_START."""
    us = (np.datetime64(ORDER_START) - np.datetime64(EPOCH)).astype("timedelta64[us]").astype(np.int64)
    return us + days.astype(np.int64) * 86_400_000_000


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


# ------------------------------------------------------------------ api_read

def gen_api_tables(seed, out):
    """TPC-H-shaped star schema (region nation customer supplier part
    orders lineitem), the layout `graft.sources.Tables` reads."""
    r = _rng(seed, 1)
    n = API_SCALE
    os.makedirs(out, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, c), 2),
        "c_mktsegment": segs[r.integers(0, 5, c)]}), f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, s), 2)}), f"{out}/supplier.parquet")
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "small", "red", "cold", "green", "tiny"])
    noun = np.array(["ring", "bolt", "gear", "nut", "pipe", "valve"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, p)], " "), noun[r.integers(0, 6, p)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, p).astype(str)),
        "p_type": types[r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(p) * 0.1 % 1100, 2)}), f"{out}/part.parquet")
    o = n["orders"]
    odays = r.integers(0, ORDER_DAYS + 1, o)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, o)],
        "o_totalprice": np.round(r.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts(_micros(odays)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, o)]}), f"{out}/orders.parquet")
    lines = r.integers(1, 8, o)
    okey = np.repeat(np.arange(o), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    m = len(okey)
    qty = r.integers(1, 51, m).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, m), 2),
        "l_discount": np.round(r.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": np.array(["N", "A", "R"])[r.integers(0, 3, m)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, m)],
        "l_shipdate": _ts(_micros(np.minimum(odays[okey] + r.integers(1, 122, m), ORDER_DAYS + 60)))}),
        f"{out}/lineitem.parquet")


def _date(day):
    return (ORDER_START + dt.timedelta(days=int(day))).strftime("%Y-%m-%d 00:00:00")


# One block of the request stream, in seeded order. No traffic log exists
# for the reference, so the mix is even: each request class (lookup, scan,
# agg) is a third of the block, and the kinds of a class share it equally.
# Fixing the composition per block keeps the class mix (and so every
# percentile) the same for every seed; the seed draws the order and all
# parameters, each optional parameter present or absent with equal odds
# and each enumerated choice uniform.
API_BLOCK = (["customer_history", "category_lookup", "hierarchy"] * 2
             + ["product_sales", "paginate", "price_update"] * 2
             + ["top_sellers", "sales_trends"] * 3)
API_CLASS = {"customer_history": "lookup", "category_lookup": "lookup", "hierarchy": "lookup",
             "product_sales": "scan", "paginate": "scan", "price_update": "scan",
             "top_sellers": "agg", "sales_trends": "agg"}


def api_request(r, kind):
    """One request of `kind` with seeded parameters."""
    c, p, o = API_SCALE["customer"], API_SCALE["part"], API_SCALE["orders"]
    q = {"cls": API_CLASS[kind], "kind": kind}
    if kind == "customer_history":
        lo = int(r.integers(0, ORDER_DAYS))
        q.update(cust=int(r.integers(0, c)),
                 start=_date(lo) if r.random() < 0.5 else None,
                 end=_date(int(r.integers(lo, ORDER_DAYS + 1))) if r.random() < 0.5 else None,
                 sort=["o_orderdate", "o_totalprice"][int(r.integers(0, 2))],
                 asc=bool(r.random() < 0.5), limit=int(r.choice([10, 20, 50])),
                 offset=int(r.choice([0, 5, 10])))
    elif kind == "category_lookup":
        q.update(nation=int(r.integers(0, 25)))
    elif kind == "product_sales":
        lo = int(r.integers(0, ORDER_DAYS - 180))
        hi = int(min(ORDER_DAYS, lo + r.integers(90, 900)))
        brand = r.random() < 0.5
        q.update(start=_date(lo), end=_date(hi).replace("00:00:00", "23:59:59"),
                 brand=f"Brand#{int(r.integers(1, 26))}" if brand else None,
                 part=None if brand else int(r.integers(0, p)),
                 sort=["o_orderdate", "o_totalprice"][int(r.integers(0, 2))],
                 asc=bool(r.random() < 0.5), limit=int(r.choice([10, 25, 50])),
                 offset=int(r.choice([0, 10, 40])))
    elif kind == "paginate":
        q.update(sort=["o_orderdate", "o_totalprice"][int(r.integers(0, 2))],
                 asc=bool(r.random() < 0.5), limit=10, offset=int(r.integers(1000, o // 2)))
    elif kind == "price_update":
        q.update(part=int(r.integers(0, p)), price=round(float(r.uniform(1, 3000)), 2))
    elif kind == "top_sellers":
        q.update(k=int(r.integers(5, 51)))
    elif kind == "sales_trends":
        q.update(unit=["day", "week", "month"][int(r.integers(0, 3))],
                 dim_start=DIM_START, dim_end=DIM_END)
    return q


def gen_api_requests(seed, out):
    r = _rng(seed, 2)
    # warm-up: one request of every kind, with its own parameters
    warm = [api_request(r, k) for k in sorted(set(API_BLOCK))]
    reqs = []
    while len(reqs) < API_REQUESTS:
        reqs += [api_request(r, k) for k in r.permutation(API_BLOCK)]
    for i, q in enumerate(reqs):
        q["id"] = i
    for i, q in enumerate(warm):
        q["id"] = -1 - i
    with open(f"{out}/requests.json", "w") as f:
        json.dump({"warmup": warm, "requests": reqs}, f, separators=(",", ":"))


def gen_api(seed, out):
    gen_api_tables(seed, out)
    gen_api_requests(seed, out)


# ----------------------------------------------------------------- etl_write

STATUSES = ["Pending", "Processing", "Shipped", "In Transit", "Delivered", "Cancelled", "Returned"]
BAD_STATUSES = ["Lost", "pending", "UNKNOWN"]
PAYMENTS = ["Credit Card", "PayPal", "Apple Pay", "Google Pay", "Gift Card", "Bank Transfer"]


def _csv(path, header, rows):
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join("" if v is None else str(v) for v in row) + "\n")


def _etl_ts(r, n, span=ETL_SIZES["order_days"]):
    # from 2024-01-01, second resolution
    base = dt.datetime(2024, 1, 1)
    days = r.integers(0, span, n)
    secs = r.integers(0, 86400, n)
    return [(base + dt.timedelta(days=int(d), seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
            for d, s in zip(days, secs)]


def _etl_orders(r, first_id, n, n_cust):
    ts = _etl_ts(r, n)
    rows = []
    for i in range(n):
        status = STATUSES[int(r.integers(0, len(STATUSES)))]
        if r.random() < 0.03:
            status = BAD_STATUSES[int(r.integers(0, len(BAD_STATUSES)))]  # out of domain
        cust = int(r.integers(1, n_cust + 1))
        oid = first_id + i
        if r.random() < 0.01:
            cust = None                                                  # null key
        rows.append([oid, cust, ts[i], status, PAYMENTS[int(r.integers(0, 6))],
                     f"{int(r.integers(1, 999))} Main St", "Springfield", "IL", "62701", "USA",
                     None, None, None, f"{r.uniform(10, 900):.2f}"])
    return rows


def _etl_items(r, orders, first_item, per_order, n_prod):
    rows, iid = [], first_item
    for o in orders:
        for _ in range(int(r.integers(1, 2 * per_order))):
            qty = int(r.integers(1, 6))
            price = f"{r.uniform(5, 500):.2f}"
            disc = f"{r.uniform(0, 5):.2f}" if r.random() < 0.3 else "0.00"
            rows.append([iid, o[0], int(r.integers(1, n_prod + 1)), qty, price, disc, "0.00"])
            iid += 1
    return rows


def gen_etl(seed, out):
    """Reference-schema CSVs under out/base and an overlapping delta batch
    under out/delta. Dirty rows: null keys, out-of-domain order status,
    duplicate primary keys."""
    r = _rng(seed, 3)
    z = ETL_SIZES
    base, delta = f"{out}/base", f"{out}/delta"
    os.makedirs(base, exist_ok=True)
    os.makedirs(delta, exist_ok=True)
    cats = []
    roots = z["categories"] // 2
    for i in range(1, z["categories"] + 1):
        parent = None if i <= roots else int(r.integers(1, roots + 1))
        cats.append([i, f"Category {i}", f"desc {i}", parent, "2021-01-01 00:00:00"])
    cats.append([None, "orphan", "null key", None, "2021-01-01 00:00:00"])
    prods = []
    for i in range(1, z["products"] + 1):
        prods.append([i, f"Product {i}", "d", f"{r.uniform(5, 500):.2f}", f"{r.uniform(1, 200):.2f}",
                      int(r.integers(1, z["categories"] + 1)), f"SKU-{i:06d}", int(r.integers(0, 1000)),
                      f"{r.uniform(0.1, 20):.2f}", "2021-01-01 00:00:00", "true"])
    prods += [prods[int(r.integers(0, len(prods)))][:] for _ in range(5)]      # duplicate PKs
    prods.append([z["products"] + 1, None, "no name", "1.00", "1.00", 1, "SKU-X", 0, "1.00",
                  "2021-01-01 00:00:00", "true"])                              # null NOT NULL col
    custs = []
    for i in range(1, z["customers"] + 1):
        email = None if r.random() < 0.01 else f"user{i}@example.com"
        custs.append([i, email, f"First{i}", f"Last{i}", "1 Main St", "Springfield", "IL",
                      "62701", "USA", "555-555-5555", _etl_ts(r, 1)[0], _etl_ts(r, 1)[0]])
    custs += [custs[int(r.integers(0, len(custs)))][:] for _ in range(10)]
    orders = _etl_orders(r, 1, z["orders"], z["customers"])
    orders += [orders[int(r.integers(0, len(orders)))][:] for _ in range(20)]
    items = _etl_items(r, orders[: z["orders"]], 1, z["items_per_order"], z["products"])
    items += [items[int(r.integers(0, len(items)))][:] for _ in range(30)]
    # delta: new orders plus re-sent old ones (overlapping PKs), items likewise
    new_orders = _etl_orders(r, z["orders"] + 1, z["delta_orders"], z["customers"])
    resent = [orders[int(r.integers(0, z["orders"]))][:] for _ in range(z["delta_orders"] // 5)]
    new_items = _etl_items(r, new_orders, len(items) + 1000, z["items_per_order"], z["products"])
    resent_items = [items[int(r.integers(0, len(items)))][:] for _ in range(len(new_items) // 5)]
    h = {
        "product_categories": ["category_id", "name", "description", "parent_id", "created_at"],
        "products": ["product_id", "name", "description", "price", "cost", "category_id", "sku",
                     "inventory_count", "weight", "created_at", "is_active"],
        "customers": ["customer_id", "email", "first_name", "last_name", "street_address", "city",
                      "state", "zip_code", "country", "phone", "registration_date", "last_login"],
        "orders": ["order_id", "customer_id", "order_date", "status", "payment_method",
                   "shipping_address", "shipping_city", "shipping_state", "shipping_zip",
                   "shipping_country", "processing_date", "shipping_date", "delivery_date",
                   "total_amount"],
        "order_items": ["order_item_id", "order_id", "product_id", "quantity", "price", "discount",
                        "total"],
    }
    for d, data in ((base, {"product_categories": cats, "products": prods, "customers": custs,
                            "orders": orders, "order_items": items}),
                    (delta, {"product_categories": cats, "products": prods, "customers": custs,
                             "orders": new_orders + resent, "order_items": new_items + resent_items})):
        for name, rows in data.items():
            _csv(f"{d}/{name}.csv", h[name], rows)


# ------------------------------------------------------------- stream_ingest

WORDS = ("spark batch stream column table query join filter group agg sort hash window key "
         "value scan merge order part line data vector row fast slow big small the a").split()


def gen_stream(seed, out):
    """documents (with near-duplicate clusters), clustered 64-d embeddings
    and a month of user events, in the layout `graft.sources.Tables` reads."""
    r = _rng(seed, 4)
    z = STREAM_SIZES
    os.makedirs(out, exist_ok=True)
    nd = z["documents"]
    words = np.array(WORDS)
    texts = []
    for i in range(nd):
        if i >= 40 and r.random() < 0.15:
            src = texts[int(r.integers(0, i))].split(" ")   # near-duplicate of an earlier doc
            for _ in range(max(1, len(src) // 25)):
                src[int(r.integers(0, len(src)))] = str(words[int(r.integers(0, len(words)))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(12, 80)))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[r.integers(0, 5, nd)],
        "source": np.char.add("src", r.integers(0, 20, nd).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), f"{out}/documents.parquet")
    ne, dim, k = z["embeddings"], 64, 10
    centers = r.normal(0, 1, (k, dim))
    labels = r.integers(0, k, ne)
    vecs = (centers[labels] + r.normal(0, 0.35, (ne, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), f"{out}/embeddings.parquet")
    nv = z["events"]
    base = (np.datetime64("2024-01-01T00:00:00") - np.datetime64(EPOCH)).astype("timedelta64[us]").astype(np.int64)
    ts = np.sort(base + r.integers(0, 30 * 86_400_000_000, nv))
    _write(pa.table({
        "event_id": pa.array(np.arange(nv), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 300, nv), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[r.integers(0, 5, nv)],
        "value": np.round(r.uniform(0, 500, nv), 2),
        "props": [f'{{"k": {int(x)}}}' for x in r.integers(0, 100, nv)]}), f"{out}/events.parquet")


GENERATORS = {"api_read": gen_api, "etl_write": gen_etl, "stream_ingest": gen_stream}


def generate(workload, seed, out):
    GENERATORS[workload](seed, out)


def tree_digest(root):
    """sha256 over every file's relative path and bytes, in sorted order."""
    import hashlib
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
