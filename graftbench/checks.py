"""Output checks, run after the timed window. Each function returns a
list of (name, ok, detail); every failed check counts as one failed
operation.

* elt_full: the marts and the test results against DuckDB SQL of the
  same models over the landed files.
* elt_incremental: the final warehouse table and the SCD2 history
  against a DuckDB/Python recomputation from the generated batches.
* analytics_mix: each query result against the registry's DuckDB oracle
  SQL (SparkEntry.oracleSql).

The registry's table list and the canonical form every comparison puts
both sides in (columns sorted by name, values normalised, rows sorted)
come from tools/parity.py.
"""
import datetime
import json
import os
import sys

import duckdb
import pyarrow.dataset as ds

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "tools"))
from parity import TABLES, canon  # noqa: E402


def _spark_rows(path):
    t = ds.dataset(path, format="parquet").to_table()
    cols = t.column_names
    return cols, [tuple(r[c] for c in cols) for r in t.to_pylist()]


def _same(name, a, b):
    ca, ra = canon(*a)
    cb, rb = canon(*b)
    if ca != cb:
        return (name, False, f"columns {ca} vs {cb}")
    if ra != rb:
        diff = next((x, y) for x, y in zip(ra + [None], rb + [None]) if x != y)
        return (name, False, f"{len(ra)} vs {len(rb)} rows; first difference {diff}")
    return (name, True, f"{len(ra)} rows")


def _query(con, sql):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


FULL_MODELS = """
CREATE VIEW customer AS SELECT * FROM read_csv('{i}/dims/customer/*.csv', header=true);
CREATE VIEW part AS SELECT * FROM read_csv('{i}/dims/part/*.csv', header=true);
CREATE VIEW supplier AS SELECT * FROM read_csv('{i}/dims/supplier/*.csv', header=true);
CREATE VIEW nation AS SELECT * FROM read_json('{i}/dims/nation/*.json', format='newline_delimited');
CREATE VIEW region AS SELECT * FROM read_json('{i}/dims/region/*.json', format='newline_delimited');
CREATE VIEW orders AS SELECT * EXCLUDE (o_clerk) FROM read_parquet('{i}/facts/orders/*.parquet');
CREATE VIEW lineitem AS SELECT * FROM read_parquet('{i}/facts/lineitem/*.parquet')
  WHERE l_quantity > 0 AND l_returnflag IN ('A', 'N', 'R');
CREATE VIEW dim_customer AS SELECT c_custkey, c_mktsegment, n_name, r_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey;
CREATE TABLE fct_order_lines AS SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
  l_partkey, l_suppkey, l_quantity, l_shipdate,
  CAST(l_extendedprice AS DECIMAL(18,2))
    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey;
"""

FULL_MARTS = {
    "mart_revenue_nation_year": """SELECT n_name, year(o_orderdate) AS order_year,
        CAST(sum(net) AS DOUBLE) AS revenue, count(*) AS n_lines
        FROM fct_order_lines JOIN dim_customer ON o_custkey = c_custkey GROUP BY ALL""",
    "mart_customer_ltv": """SELECT o_custkey AS c_custkey, CAST(sum(net) AS DOUBLE) AS revenue,
        count(*) AS n_lines, max(o_orderdate) AS last_order FROM fct_order_lines GROUP BY ALL""",
    "mart_part_type": """SELECT p_type, p_brand, CAST(sum(net) AS DOUBLE) AS revenue,
        sum(l_quantity) AS qty FROM fct_order_lines JOIN part ON l_partkey = p_partkey
        GROUP BY ALL""",
    "mart_supplier_nation": """SELECT n_name, CAST(sum(net) AS DOUBLE) AS revenue,
        count(*) AS n_lines FROM fct_order_lines JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey GROUP BY ALL""",
    "dim_customer": "SELECT * FROM dim_customer",
}

FULL_CHECKS = {
    ("mart_customer_ltv", "not_null", "c_custkey"): "SELECT 0",
    ("mart_customer_ltv", "not_null", "revenue"): "SELECT 0",
    ("mart_customer_ltv", "unique", "c_custkey"): "SELECT 0",
    ("fct_order_lines", "not_null", "o_orderkey"):
        "SELECT count(*) FROM fct_order_lines WHERE o_orderkey IS NULL",
    ("fct_order_lines", "not_null", "o_custkey"):
        "SELECT count(*) FROM fct_order_lines WHERE o_custkey IS NULL",
    ("fct_order_lines", "relationships", "o_custkey"):
        """SELECT count(*) FROM fct_order_lines WHERE o_custkey IS NOT NULL
           AND o_custkey NOT IN (SELECT c_custkey FROM dim_customer)""",
    ("dim_customer", "unique", "c_custkey"):
        "SELECT count(*) FROM (SELECT c_custkey FROM dim_customer GROUP BY 1 HAVING count(*) > 1)",
    ("dim_customer", "accepted_values", "r_name"):
        """SELECT count(*) FROM dim_customer WHERE r_name NOT IN
           ('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST')""",
}

AS_OF_MS = 1004918400000  # 2001-11-05T00:00:00Z


def elt_full(inputs, out):
    con = duckdb.connect()
    con.execute(FULL_MODELS.format(i=inputs))
    models = json.load(open(os.path.join(out, "outputs.json")))["models"]
    results = [_same(m, _spark_rows(os.path.join(models, m)), _query(con, sql))
               for m, sql in FULL_MARTS.items()]
    fct = os.path.join(models, "fct_order_lines", "*.parquet")
    n_diff = con.execute(f"""SELECT count(*) FROM (
        (SELECT * FROM read_parquet('{fct}') EXCEPT ALL SELECT * FROM fct_order_lines)
        UNION ALL
        (SELECT * FROM fct_order_lines EXCEPT ALL SELECT * FROM read_parquet('{fct}')))"""
                         ).fetchone()[0]
    results.append(("fct_order_lines", n_diff == 0, f"{n_diff} differing rows"))
    got = {tuple(r[:3]): r[3] for r in json.load(open(os.path.join(out, "checks.json")))}
    for key, sql in FULL_CHECKS.items():
        want = str(con.execute(sql).fetchone()[0])
        results.append(("check " + "/".join(key), got.get(key) == want,
                        f"{got.get(key)} vs {want}"))
    max_ms = con.execute("SELECT epoch_ms(max(l_shipdate)) FROM fct_order_lines").fetchone()[0]
    age = (AS_OF_MS - max_ms) // 1000
    status = "error" if age > 7 * 86400 else "warn" if age > 86400 else "pass"
    key = ("fct_order_lines", "freshness", status)
    results.append(("freshness", got.get(key) == str(age), f"{key} {got.get(key)} vs {age}"))
    return results


def expected_history(con, inputs, batches):
    """SCD2 `check` history of per-customer (n_orders, n_open) after the
    base load and each batch, recomputed from the generated files."""
    start = datetime.datetime(2024, 1, 2)
    hist = []  # [key, n_orders, n_open, valid_from, valid_to]
    open_row = {}
    for b in range(-1, batches):
        files = [f"{inputs}/base/orders.parquet"] + [
            f"{inputs}/batches/batch-{k:03d}.parquet" for k in range(b + 1)]
        state = con.execute(f"""
            SELECT o_custkey, count(*), sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
            FROM (SELECT * FROM read_parquet({files!r})
                  QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                             ORDER BY o_updated_at DESC) = 1)
            GROUP BY 1""").fetchall()
        ts = start + datetime.timedelta(hours=b + 1)
        for key, n, n_open in state:
            cur = open_row.get(key)
            if cur is not None and (cur[1], cur[2]) == (n, n_open):
                continue
            if cur is not None:
                cur[4] = ts
            row = [key, n, n_open, ts, None]
            hist.append(row)
            open_row[key] = row
    return hist


def elt_incremental(inputs, out):
    con = duckdb.connect()
    o = json.load(open(os.path.join(out, "outputs.json")))
    files = [f"{inputs}/base/orders.parquet"] + [
        f"{inputs}/batches/batch-{k:03d}.parquet" for k in range(o["batches_run"])]
    got = os.path.join(o["orders"], "*.parquet")
    n_diff, n_rows = con.execute(f"""
        WITH want AS (SELECT * FROM read_parquet({files!r})
                      QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                                 ORDER BY o_updated_at DESC) = 1),
             have AS (SELECT * FROM read_parquet('{got}'))
        SELECT (SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL SELECT * FROM have)
                UNION ALL (SELECT * FROM have EXCEPT ALL SELECT * FROM want))),
               (SELECT count(*) FROM have)""").fetchone()
    results = [("orders final table", n_diff == 0, f"{n_rows} rows, {n_diff} differing")]
    want = expected_history(con, inputs, o["batches_run"])
    cols, rows = _spark_rows(o["history"])
    rows = [dict(zip(cols, r)) for r in rows]
    have = [[r["o_custkey"], r["n_orders"], r["n_open"], r["valid_from"], r["valid_to"]]
            for r in rows]

    def versions(h):
        c = {}
        for r in h:
            c[r[0]] = c.get(r[0], 0) + 1
        return c

    results += [
        ("history rows", len(have) == len(want), f"{len(have)} vs {len(want)}"),
        ("history open rows", sum(r[4] is None for r in have) == sum(r[4] is None for r in want),
         f"{sum(r[4] is None for r in have)} vs {sum(r[4] is None for r in want)}"),
        ("history versions per key", versions(have) == versions(want),
         f"{len(versions(have))} keys vs {len(versions(want))}"),
        _same("history rows exact", (["k", "n", "o", "f", "t"], have),
              (["k", "n", "o", "f", "t"], want)),
    ]
    return results


def analytics_mix(inputs, out, queries):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    results = []
    for q in queries:
        path = os.path.join(out, q)
        if not os.path.isdir(path):
            results.append((q, False, "no result"))
            continue
        have = _spark_rows(path)
        if q not in oracle:
            results.append((q, bool(have[1]), f"{len(have[1])} rows, no oracle"))
            continue
        try:
            results.append(_same(q, have, _query(con, oracle[q])))
        except duckdb.Error as e:
            results.append((q, False, f"oracle failed: {e}"))
    return results
