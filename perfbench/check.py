"""Output checks, run after the harness exits (outside every timed region).

* Contract queries: each distinct result digest is compared with DuckDB
  running the query's ``SparkEntry.oracleSql`` over the same tables, with
  the normalization of ``scripts/compare.py`` (columns sorted by name, row
  order kept, exact values).
* ``etl_ingest``: loaded row counts equal the generated counts, ``replay``
  changes no count, and every pass's final warehouse satisfies the
  ``PipelineSpec`` invariants: total = price*qty - discount, lifetime value
  = the sum of the customer's orders as of the run that first loaded the
  customer (first-writer-wins, as the reference's ON CONFLICT DO NOTHING),
  and daily revenue reconciles with item totals, per day and overall.

``run(...)`` returns ``[(op_index, message)]`` for every op that failed.
"""
import datetime as dt
import decimal
import json
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)


# ------------------------------------------------------- canonical values --

def canon(v):
    """DuckDB/Python value -> the encoding of ``perfbench.Canon``."""
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        v = 0.0 if v == 0.0 else (float("nan") if math.isnan(v) else v)
        return "f:" + format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, decimal.Decimal):
        return "dec:" + ("0" if v == 0 else format(v.normalize(), "f"))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"ts:{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, dt.date):
        return "date:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "bin:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    return str(v)


def value(c):
    """Canonical cell -> comparable Python value: numbers compare by value,
    as pandas does under ``check_dtype=False``."""
    if isinstance(c, list):
        return [value(x) for x in c]
    if isinstance(c, str):
        if c.startswith("f:"):
            return struct.unpack(">d", int(c[2:], 16).to_bytes(8, "big"))[0]
        if c.startswith("dec:"):
            return decimal.Decimal(c[4:])
    return c


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    return a == b


def compare(dump, cols, rows):
    """None when the harness dump equals the DuckDB result, else a reason."""
    if sorted(cols) != dump["columns"]:
        return f"columns {dump['columns']} != oracle {sorted(cols)}"
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    exp = [[canon(r[i]) for i in idx] for r in rows]
    got = dump["rows"]
    if len(got) != len(exp):
        return f"{len(got)} rows != oracle {len(exp)}"
    for k, (g, e) in enumerate(zip(got, exp)):
        if not same(value(g), value(e)):
            return f"row {k}: got {g} expected {e}"
    return None


# ----------------------------------------------------------------- checks --

def _tables_con(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def run(workload, ops, plan_by_id, run_dir, expect):
    errors = []
    for k, o in enumerate(ops):
        if o.get("error"):
            errors.append((k, o["error"]))
    failed = {k for k, _ in errors}
    if workload == "etl_ingest":
        return errors + _check_etl(ops, plan_by_id, expect, failed)
    cons = {}      # tables dir -> DuckDB connection
    with open(os.path.join(run_dir, "oracle.json")) as f:
        oracle = json.load(f)
    verdict = {}   # (dump path, tables dir) -> None | reason
    for k, o in enumerate(ops):
        if k in failed:
            continue
        data = plan_by_id[o["id"]]["data"]
        key = (o["dump"], data)
        if key not in verdict:
            if data not in cons:
                cons[data] = _tables_con(data)
            con = cons[data]
            with open(o["dump"]) as f:
                dump = json.load(f)
            try:
                sql = oracle.get(o["name"])
                if sql is None:
                    raise ValueError("no oracleSql entry")
                cols, rows = _query(con, sql)
                verdict[key] = compare(dump, cols, rows)
            except Exception as e:  # an oracle that cannot run is a failed check
                verdict[key] = f"oracle error: {e}"
        if verdict[key]:
            errors.append((k, f"{o['name']}: {verdict[key]}"))
    return errors


def _check_etl(ops, plan_by_id, expect, failed):
    errors = []
    counts = expect["counts"]
    loaded = list(counts["base"])
    by_pass = {}
    for k, o in enumerate(ops):
        by_pass.setdefault(o["id"].split(".")[0], {})[o["id"].split(".")[1]] = (k, o)
    for tag, steps in by_pass.items():
        for mode, (k, o) in steps.items():
            if k in failed:
                continue
            want = counts["incr" if mode == "incremental" else "base"]
            bad = [t for t in loaded if o["counts"].get(t) != want[t]]
            if o["counts"].get("orders_quarantine") != 0 or o["counts"].get("dim_time") != 1826:
                bad.append("orders_quarantine/dim_time")
            if mode == "replay" and "load" in steps and o["counts"] != steps["load"][1]["counts"]:
                bad.append("replay changed counts")
            if bad:
                errors.append((k, f"{o['id']}: count mismatch {bad}: {o['counts']}"))
        if "incremental" in steps and steps["incremental"][0] not in failed:
            k, o = steps["incremental"]
            msg = _warehouse_invariants(plan_by_id[o["id"]]["wh"], expect["csv"])
            if msg:
                errors.append((k, f"{o['id']}: {msg}"))
    return errors


def _warehouse_invariants(wh, csv_root):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    pq = lambda t: f"read_parquet('{wh}/{t}/**/*.parquet')"
    csv = lambda d, t: f"read_csv('{csv_root}/{d}/{t}.csv', header=true)"
    checks = {
        "total = price*quantity - discount": f"""
            SELECT count(*) FROM {pq('order_items')} WHERE total <> price * quantity - discount""",
        "lifetime value = sum of orders when first loaded": f"""
            WITH b AS (SELECT customer_id, sum(total_amount) AS v FROM {csv('base', 'orders')} GROUP BY 1),
                 i AS (SELECT customer_id, sum(total_amount) AS v FROM {csv('incr', 'orders')} GROUP BY 1),
                 bc AS (SELECT customer_id FROM {csv('base', 'customers')})
            SELECT count(*) FROM {pq('customers')} c
            LEFT JOIN b USING (customer_id) LEFT JOIN i USING (customer_id)
            WHERE abs(c.lifetime_value - CASE WHEN c.customer_id IN (SELECT customer_id FROM bc)
                      THEN coalesce(b.v, 0) ELSE coalesce(i.v, 0) END) > 0.005""",
        "daily revenue = item totals per day": f"""
            WITH d AS (SELECT CAST(date AS DATE) AS day, sum(revenue) AS r
                       FROM read_parquet('{wh}/daily_sales_aggregation/**/*.parquet', hive_partitioning = true)
                       GROUP BY 1),
                 it AS (SELECT CAST(o.order_date AS DATE) AS day, sum(i.total) AS r
                        FROM {pq('order_items')} i JOIN {pq('orders')} o USING (order_id) GROUP BY 1)
            SELECT count(*) FROM d FULL JOIN it USING (day) WHERE abs(coalesce(d.r, 0) - coalesce(it.r, 0)) > 0.005""",
        "daily revenue = item totals overall": f"""
            SELECT count(*) FROM (SELECT sum(revenue) AS r FROM
                read_parquet('{wh}/daily_sales_aggregation/**/*.parquet', hive_partitioning = true)) d,
              (SELECT sum(total) AS r FROM {pq('order_items')}) it WHERE abs(d.r - it.r) > 0.01""",
    }
    bad = []
    for name, sql in checks.items():
        n = con.execute(sql).fetchone()[0]
        if n:
            bad.append(f"{name} ({n} violations)")
    return "; ".join(bad) or None
