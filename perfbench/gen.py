"""Seeded input generation for the benchmark.

Everything the program reads is made here from the run's seed, so the same
seed gives byte-identical inputs:

* ``tables(seed, out)``: the ten TPC-H-ish parquet tables the contract
  queries read, in the shapes and distributions of the repository's test
  data (TESTDATA.md) at sf0.1: uniform keys, 1995-2001 order dates, ship
  date = order date + 1..95 days, 30 days of events, 5% " dup"
  near-duplicate documents, unit-norm 64-d embeddings.
* ``etl_csvs(seed, out)``: the reference e-commerce CSVs (columns of
  ``graft.schema.Schemas``, distributions of FIXTURES.md section 1), plus a
  second directory holding the same rows and one extra seeded day of new
  customers, orders and items, for the incremental load.
"""
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold red small new".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
TYPES = "LARGE MEDIUM ECONOMY PROMO SMALL STANDARD".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup purchase view click error".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_US = lambda d: int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
DAY_US = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 22)


def _pick(rng, words, n):
    return np.asarray(words, dtype=object)[rng.integers(0, len(words), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed, out, part=0):
    """Writes ``<out>/<name>.parquet`` for the ten contract tables; each
    ``part`` of a seed is another independent table set."""
    rng = np.random.default_rng([seed, 1, part])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    i32 = lambda a: pa.array(a, type=pa.int32())
    i64 = lambda a: pa.array(a, type=pa.int64())

    _write(pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": i32(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])}), f"{out}/nation.parquet")
    _write(pa.table({"c_custkey": i64(np.arange(n_cust)),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}), f"{out}/customer.parquet")
    _write(pa.table({"s_suppkey": i64(np.arange(n_supp)),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    _write(pa.table({"p_partkey": i64(pk),
                     "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                     "p_type": _pick(rng, TYPES, n_part),
                     "p_size": i32(rng.integers(1, 51, n_part)),
                     "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)}), f"{out}/part.parquet")

    start = EPOCH_US(dt.datetime(1995, 1, 1))
    odays = rng.integers(0, 2404, n_ord)
    _write(pa.table({"o_orderkey": i64(np.arange(n_ord)),
                     "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                     "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
                     "o_totalprice": _money(rng, 1000, 500000, n_ord),
                     "o_orderdate": _ts(start + odays * DAY_US),
                     "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}), f"{out}/orders.parquet")
    lok = rng.integers(0, n_ord, n_line)
    _write(pa.table({"l_orderkey": i64(lok),
                     "l_partkey": i64(rng.integers(0, n_part, n_line)),
                     "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                     "l_linenumber": i32(rng.integers(1, 8, n_line)),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": _pick(rng, ["N", "R", "A"], n_line),
                     "l_linestatus": _pick(rng, ["F", "O"], n_line),
                     "l_shipdate": _ts(start + (odays[lok] + rng.integers(1, 96, n_line)) * DAY_US)}),
           f"{out}/lineitem.parquet")

    n_ev = int(1_000_000 * SF)
    ev0 = EPOCH_US(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + ev0
    _write(pa.table({"event_id": i64(np.arange(n_ev)),
                     "ts": _ts(ts),
                     "user_id": i64(rng.integers(0, 1500, n_ev)),
                     "event_type": _pick(rng, EVENT_TYPES, n_ev),
                     "value": np.round(rng.exponential(50.0, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
           f"{out}/events.parquet")

    n_doc = int(50_000 * SF)
    words = [" ".join(_pick(rng, VOCAB, k)) for k in rng.integers(10, 101, n_doc)]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in dups:  # near-duplicate: another document's text plus " dup"
        j = int(rng.integers(0, n_doc))
        words[i] = words[j if j != i else (i + 1) % n_doc] + " dup"
    lang = _pick(rng, ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14, n_doc)
    _write(pa.table({"doc_id": i64(np.arange(n_doc)), "text": words, "lang": lang,
                     "source": [f"src{i % 20}" for i in rng.permutation(n_doc)],
                     "n_chars": i64([len(w) for w in words])}), f"{out}/documents.parquet")

    n_emb = int(20_000 * SF)
    e = rng.standard_normal((n_emb, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    _write(pa.table({"vec_id": i64(np.arange(n_emb)),
                     "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
                     "label": i32(rng.integers(0, 10, n_emb))}), f"{out}/embeddings.parquet")


# ---------------------------------------------------------------- ETL CSVs --

STATUSES = ["Pending", "Processing", "Shipped", "In Transit", "Delivered", "Cancelled", "Returned"]
STATUS_P = [0.05, 0.08, 0.12, 0.10, 0.58, 0.04, 0.03]
PAYMENTS = ["Credit Card", "PayPal", "Apple Pay", "Google Pay", "Gift Card", "Bank Transfer"]
CITIES = ["Springfield", "Riverside", "Franklin", "Greenville", "Bristol", "Clinton", "Fairview"]
STATES = ["CA", "TX", "NY", "FL", "IL", "PA", "OH", "GA", "NC", "MI"]
FIRST = "James Mary John Patricia Robert Jennifer Michael Linda William Elizabeth".split()
LAST = "Smith Johnson Williams Brown Jones Garcia Miller Davis Rodriguez Martinez".split()
ETL_START = dt.datetime(2023, 1, 1)
ETL_DAYS = 14           # order dates span 2023-01-01 .. 2023-01-14
N_CATEGORIES, N_PRODUCTS, N_CUSTOMERS = 500, 5000, 5000


def _stamp(us):
    """Epoch micros (int64 array, -1 = null) -> 'yyyy-MM-dd HH:mm:ss' or ''."""
    txt = np.datetime_as_string(us.astype("datetime64[us]"), unit="s")
    return np.where(us < 0, "", np.char.replace(txt.astype(str), "T", " "))


def _cents(v):
    v = np.asarray(v, dtype=np.int64)
    return np.char.add(np.char.add((v // 100).astype(str), "."), np.char.zfill((v % 100).astype(str), 2))


def _customers(rng, ids, reg_lo, reg_hi):
    ids = np.asarray(ids)
    n = len(ids)
    reg = EPOCH_US(reg_lo) + rng.integers(0, EPOCH_US(reg_hi) - EPOCH_US(reg_lo), n) // 1_000_000 * 1_000_000
    return pd.DataFrame({
        "customer_id": ids, "email": [f"user{c}@example.com" for c in ids],
        "first_name": np.asarray(FIRST)[ids % 10], "last_name": np.asarray(LAST)[(ids // 10) % 10],
        "street_address": np.char.add(rng.integers(1, 9999, n).astype(str), " Main St"),
        "city": np.asarray(CITIES)[ids % 7], "state": np.asarray(STATES)[ids % 10],
        "zip_code": rng.integers(10000, 99999, n).astype(str), "country": "US",
        "phone": np.char.add("555-", rng.integers(1000, 9999, n).astype(str)),
        "registration_date": _stamp(reg), "last_login": _stamp(reg + rng.integers(0, 90, n) * DAY_US)})


def _orders(rng, first_id, cust_ids, day_lo, day_hi, prices, first_item, one_each=False):
    """Orders per customer ~ Pareto(1.5)+1 capped at 50, 5% of customers
    with none (``one_each``: exactly one); 1..5 items per order, quantity
    1..5, historic price = current x U(0.95, 1.05), discount pct in
    {0,5,10,15,20} (FIXTURES.md section 1). Money in integer cents."""
    cust_ids = np.asarray(cust_ids)
    k = np.ones(len(cust_ids), dtype=np.int64) if one_each else \
        np.where(rng.random(len(cust_ids)) < 0.05, 0,
                 np.minimum(50, np.floor(rng.pareto(1.5, len(cust_ids))).astype(np.int64) + 1))
    cid = np.repeat(cust_ids, k)
    n = len(cid)
    oid = np.arange(first_id, first_id + n)
    od = EPOCH_US(ETL_START) + rng.integers(day_lo, day_hi, n) * DAY_US + rng.integers(0, 86400, n) * 1_000_000
    st = rng.choice(7, n, p=STATUS_P)
    proc = np.where(st != 0, od + rng.integers(1, 48, n) * 3_600_000_000, -1)
    shipped = np.isin(st, [2, 3, 4, 6])
    ship = np.where(shipped, proc + rng.integers(1, 4, n) * DAY_US, -1)
    deliv = np.where(np.isin(st, [4, 6]), ship + rng.integers(1, 7, n) * DAY_US, -1)
    n_items = rng.choice(5, n, p=[.5, .25, .15, .07, .03]) + 1
    i_oid = np.repeat(oid, n_items)
    m = len(i_oid)
    pid = rng.integers(1, len(prices) + 1, m)
    qty = rng.choice(5, m, p=[.7, .15, .08, .05, .02]) + 1
    price = np.rint(prices[pid - 1] * rng.uniform(0.95, 1.05, m)).astype(np.int64)
    disc = price * qty * rng.choice([0, 5, 10, 15, 20], m, p=[.8, .1, .05, .03, .02]) // 100
    line = price * qty - disc
    total = np.bincount(i_oid - first_id, weights=line, minlength=n).astype(np.int64)
    orders = pd.DataFrame({
        "order_id": oid, "customer_id": cid, "order_date": _stamp(od),
        "status": np.asarray(STATUSES)[st], "payment_method": np.asarray(PAYMENTS)[rng.integers(0, 6, n)],
        "shipping_address": np.char.add(rng.integers(1, 9999, n).astype(str), " Oak Ave"),
        "shipping_city": np.asarray(CITIES)[cid % 7], "shipping_state": np.asarray(STATES)[cid % 10],
        "shipping_zip": rng.integers(10000, 99999, n).astype(str), "shipping_country": "US",
        "processing_date": _stamp(proc), "shipping_date": _stamp(ship), "delivery_date": _stamp(deliv),
        "total_amount": _cents(total)})
    items = pd.DataFrame({
        "order_item_id": np.arange(first_item, first_item + m), "order_id": i_oid, "product_id": pid,
        "quantity": qty, "price": _cents(price), "discount": _cents(disc), "total": _cents(line)})
    return orders, items


def _write_csvs(out, categories, products, customers, orders, items):
    os.makedirs(out, exist_ok=True)
    for name, df in (("product_categories", categories), ("products", products),
                     ("customers", customers), ("orders", orders), ("order_items", items)):
        df.to_csv(f"{out}/{name}.csv", index=False)


def etl_csvs(seed, out, n_cust=N_CUSTOMERS):
    """Writes ``<out>/base`` and ``<out>/incr`` (base plus one new day) for
    ``n_cust`` customers. Returns the expected per-table row counts of both
    inputs."""
    rng = np.random.default_rng([seed, 2])
    created = ETL_START.replace(year=ETL_START.year - 1).strftime("%Y-%m-%d %H:%M:%S")
    cat = np.arange(1, N_CATEGORIES + 1)
    categories = pd.DataFrame({
        "category_id": cat, "name": [f"Category {c}" for c in cat], "description": [f"desc {c}" for c in cat],
        "parent_id": pd.array(np.where(cat <= 21, 0, rng.integers(1, 22, N_CATEGORIES)), dtype="Int64"),
        "created_at": created})
    categories.loc[categories.category_id <= 21, "parent_id"] = pd.NA
    pids = np.arange(1, N_PRODUCTS + 1)
    prices = rng.integers(500, 50000, N_PRODUCTS)
    products = pd.DataFrame({
        "product_id": pids, "name": [f"Product {p}" for p in pids], "description": [f"desc {p}" for p in pids],
        "price": _cents(prices), "cost": _cents(prices * 6 // 10),
        "category_id": rng.integers(22, N_CATEGORIES + 1, N_PRODUCTS),
        "sku": [f"SKU-{'ABCDEFGH'[p % 8]}{'XYZW'[p % 4]}{p % 1000:03d}" for p in pids],
        "inventory_count": rng.integers(0, 1000, N_PRODUCTS), "weight": _cents(rng.integers(1, 5000, N_PRODUCTS)),
        "created_at": created, "is_active": np.where(pids % 17 == 0, "false", "true")})
    customers = _customers(rng, np.arange(1, n_cust + 1), ETL_START - dt.timedelta(days=365), ETL_START)
    orders, items = _orders(rng, 1, np.arange(1, n_cust + 1), 0, ETL_DAYS, prices, 1)
    _write_csvs(f"{out}/base", categories, products, customers, orders, items)

    # the incremental day: 200 new sign-ups and 300 returning customers,
    # one order each, on the day after the last base day
    new_ids = np.arange(n_cust + 1, n_cust + 201)
    new_cust = _customers(rng, new_ids, ETL_START + dt.timedelta(days=ETL_DAYS - 30),
                          ETL_START + dt.timedelta(days=ETL_DAYS))
    buyers = np.concatenate([new_ids, rng.integers(1, n_cust + 1, 300)])
    d_orders, d_items = _orders(rng, len(orders) + 1, buyers, ETL_DAYS, ETL_DAYS + 1, prices,
                                len(items) + 1, one_each=True)
    _write_csvs(f"{out}/incr", categories, products, pd.concat([customers, new_cust]),
                pd.concat([orders, d_orders]), pd.concat([items, d_items]))
    count = lambda c, o, i: {"product_categories": N_CATEGORIES, "products": N_PRODUCTS,
                             "customers": c, "orders": o, "order_items": i}
    return {"base": count(len(customers), len(orders), len(items)),
            "incr": count(len(customers) + len(new_cust), len(orders) + len(d_orders),
                          len(items) + len(d_items))}
