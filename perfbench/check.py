"""Output checks.

Migrations: every target table the migration wrote is compared with the
same table computed by DuckDB SQL over the same generated inputs. A
table matches when its column names, its row count and an
order-insensitive digest of its rows agree. Numbers are compared as
doubles rounded to 4 places (Spark and DuckDB sum in different orders);
everything else as text.

Release: the artifact's reconcile tie-out balances (rows and id sum), no
forgotten id is left in the artifact or in any store, the id watermark is
the last batch's highest id, and every batch left its completion marker.
"""
import os

import duckdb

SOURCES = ["region", "nation", "supplier", "customer", "brand", "part", "partsupp",
           "orders", "lineitem", "orders_delta"]

NATION = "(SELECT n_nationkey AS k, min(n_name) AS w, min(n_regionkey) AS rk FROM nation GROUP BY 1)"
CUSTOMERS = f"""
SELECT c_custkey AS id, c_name AS name, 'legacy' AS source,
       concat(c_mktsegment, ':', c_custkey) AS tag, c_mktsegment AS segment,
       coalesce(dn.w, 'NONE') AS nation_name, coalesce(dn.rk, -1) AS region_id,
       CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END
         AS acct_band,
       floor(c_acctbal / 1000) AS acct_k, length(c_name) AS name_len
FROM customer LEFT JOIN {NATION} dn ON c_nationkey = dn.k
WHERE c_acctbal > -500.0"""


def orders_out(src):
    return f"""
WITH cust AS ({CUSTOMERS}),
seg AS (SELECT id AS k, min(segment) AS w FROM cust GROUP BY 1),
nat AS (SELECT id AS k, min(nation_name) AS w FROM cust GROUP BY 1)
SELECT o_orderkey AS order_id, o_custkey AS customer_id, o_totalprice AS total,
       o_orderdate AS ordered_on, o_orderpriority AS priority,
       coalesce(seg.w, 'UNKNOWN') AS cust_segment, coalesce(nat.w, 'NONE') AS cust_nation
FROM {src} LEFT JOIN seg ON o_custkey = seg.k LEFT JOIN nat ON o_custkey = nat.k"""


ORACLE = {
    "dim_region": "SELECT r_regionkey AS region_id, r_name AS region_name FROM region",
    "dim_nation": """
SELECT n_nationkey AS nation_id, n_name AS nation_name, coalesce(r.w, 'NONE') AS region_name
FROM nation LEFT JOIN (SELECT r_regionkey AS k, min(r_name) AS w FROM region GROUP BY 1) r
  ON n_regionkey = r.k""",
    "customers": CUSTOMERS,
    "suppliers": f"""
SELECT s_suppkey AS id, s_name AS name, coalesce(dn.w, 'NONE') AS nation_name
FROM supplier LEFT JOIN {NATION} dn ON s_nationkey = dn.k""",
    # fuzzy refer: exact char-3-gram Jaccard over the value domains,
    # best match by (jaccard desc, key), then the row-level join
    "parts": """
WITH canon AS (SELECT brand_name AS k, min(brand_id) AS w,
                      trim(regexp_replace(lower(brand_name), '[^a-z0-9]+', ' ', 'g')) AS norm
               FROM brand GROUP BY brand_name),
probes AS (SELECT DISTINCT p_brand_raw AS probe,
                  trim(regexp_replace(lower(p_brand_raw), '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM part),
pg AS (SELECT probe, list_distinct(list_transform(range(1, length(norm) - 1),
                                                  i -> norm[i:i+2])) AS gs
       FROM probes WHERE length(norm) >= 3),
cg AS (SELECT k, list_distinct(list_transform(range(1, length(norm) - 1),
                                              i -> norm[i:i+2])) AS gs
       FROM canon WHERE length(norm) >= 3),
pairs AS (SELECT probe, k, CAST(len(list_intersect(p.gs, c.gs)) AS DOUBLE)
                 / (len(p.gs) + len(c.gs) - len(list_intersect(p.gs, c.gs))) AS jaccard
          FROM pg p, cg c),
best AS (SELECT probe, k FROM (
           SELECT probe, k, row_number() OVER (PARTITION BY probe ORDER BY jaccard DESC, k) AS rnk
           FROM pairs WHERE jaccard >= 0.5) WHERE rnk = 1),
resolved AS (SELECT b.probe, c.w FROM best b JOIN canon c ON c.k = b.k),
sold AS (SELECT l_partkey AS k, sum(l_quantity) AS s FROM lineitem GROUP BY 1)
SELECT p_partkey AS id, p_name AS name, p_retailprice AS retail,
       coalesce(r.w, -1) AS brand_id, coalesce(sold.s, 0.0) AS sold_qty
FROM part LEFT JOIN resolved r ON p_brand_raw = r.probe LEFT JOIN sold ON p_partkey = sold.k""",
    "part_suppliers": """
SELECT p.p_partkey AS part_id, s.s_suppkey AS supplier_id
FROM (SELECT p_partkey, unnest(string_split(trim(p_suppliers), ',')) AS k FROM part
      WHERE p_suppliers IS NOT NULL AND p_suppliers <> '') p
JOIN supplier s ON p.k = CAST(s.s_suppkey AS VARCHAR)""",
    "orders_out": orders_out("orders"),
    "lineitems": f"""
WITH ps AS (SELECT ps_partkey AS k0, ps_suppkey AS k1, min(ps_supplycost) AS w
            FROM partsupp GROUP BY 1, 2),
oo AS (SELECT order_id AS k, min(priority) AS w FROM ({orders_out("orders")}) GROUP BY 1)
SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_partkey AS part_id,
       l_suppkey AS supplier_id, l_quantity AS quantity,
       l_extendedprice * (1 - l_discount) AS revenue, ps.w AS supply_cost,
       coalesce(oo.w, 'NONE') AS order_priority
FROM lineitem
LEFT JOIN ps ON l_partkey IS NOT DISTINCT FROM ps.k0 AND l_suppkey IS NOT DISTINCT FROM ps.k1
LEFT JOIN oo ON l_orderkey = oo.k
WHERE l_quantity > 1""",
    "contacts": """
SELECT c_custkey AS contact_id, c_name AS name, 'customer' AS kind, NULL::DOUBLE AS balance
FROM customer
UNION ALL
SELECT s_suppkey, s_name, 'supplier', s_acctbal FROM supplier""",
}

# After the upsert pass: delta rows replace the base rows with the same key.
UPSERTED_ORDERS = f"""
SELECT * FROM ({orders_out("orders")})
WHERE order_id NOT IN (SELECT o_orderkey FROM orders_delta)
UNION ALL SELECT * FROM ({orders_out("orders_delta")})"""

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE",
           "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def _pq(path):
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def connect(inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in SOURCES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_pq(os.path.join(inputs, t + '.parquet'))}")
    return con


def digest(con, rel):
    """(sorted column names, row count, order-insensitive row digest)."""
    cols = sorted(con.execute(f"DESCRIBE {rel}").fetchall())
    exprs = []
    for name, typ, *_ in cols:
        q = f'"{name}"'
        if typ.startswith(NUMERIC):
            v = f"round(CAST({q} AS DOUBLE), 4)"  # -0.0 and 0.0 print differently
            exprs.append(f"coalesce(CAST(CASE WHEN {v} = 0 THEN 0.0 ELSE {v} END AS VARCHAR),"
                         " '<null>')")
        else:
            exprs.append(f"coalesce(CAST({q} AS VARCHAR), '<null>')")
    n, h = con.execute(f"SELECT count(*), sum(hash({', '.join(exprs)})) FROM {rel}").fetchone()
    return [c[0] for c in cols], n, h


def check_outputs(inputs, out_dir, upserted):
    """Compare every target table under `out_dir` (`<table>.parquet`
    directories) with its oracle. Returns [(check name, ok, detail)]."""
    con = connect(inputs)
    results = []
    for table, sql in ORACLE.items():
        if upserted and table == "orders_out":
            sql = UPSERTED_ORDERS
        path = os.path.join(out_dir, table + ".parquet")
        try:
            got = digest(con, f"(SELECT * FROM {_pq(path)})")
            want = digest(con, f"({sql})")
            ok = got == want
            detail = "" if ok else f"got {got[:2]}, want {want[:2]}"
        except Exception as e:  # a missing or unreadable table is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        results.append((f"table:{table}", ok, detail))
    if upserted:
        out = _pq(os.path.join(out_dir, "orders_out.parquet"))
        try:
            n_out, = con.execute(f"SELECT count(*) FROM {out}").fetchone()
            n_base, = con.execute("SELECT count(*) FROM orders").fetchone()
            results.append(("upsert:row_count_unchanged", n_out == n_base,
                            f"{n_out} rows after upsert, {n_base} before"))
            landed, n_delta = con.execute(f"""
                SELECT count(o.order_id), (SELECT count(*) FROM orders_delta)
                FROM orders_delta d JOIN {out} o ON o.order_id = d.o_orderkey
                WHERE round(o.total, 4) = round(d.o_totalprice, 4)
                  AND o.priority = d.o_orderpriority""").fetchone()
            results.append(("upsert:delta_landed", landed == n_delta,
                            f"{landed} of {n_delta} delta rows carry their new values"))
        except Exception as e:
            results.append(("upsert:readable", False, f"{type(e).__name__}: {e}"))
    con.close()
    return results


def check_release(inputs, manifest, r):
    """Checks of one release job, from its result `r` (the artifact path,
    the forgotten ids each store still serves, the id watermark, the
    completion markers), the generated inputs and their `manifest`."""
    results = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        art = f"read_parquet('{os.path.join(r['artifact'], '*.parquet')}')"
        dead = f"read_parquet('{os.path.join(inputs, 'dead.parquet')}')"
        rows = con.execute(f"SELECT v FROM {art} WHERE part = 'reconcile'").fetchall()
        n_in, n_acc, s_in, s_acc = (int(x) for x in rows[0][0].split(":"))
        results.append(("release:tieout_rows", len(rows) == 1 and n_in == n_acc > 0,
                        f"{n_in} input rows, {n_acc} accounted"))
        results.append(("release:tieout_sum", s_in == s_acc, f"id sum {s_in} vs {s_acc}"))
        left, = con.execute(f"""
            SELECT count(*) FROM {art} a JOIN {dead} d ON a.k = CAST(d.doc_id AS VARCHAR)
            WHERE a.part IN ('pack', 'ledger')""").fetchone()
        results.append(("release:artifact_forgotten", left == 0,
                        f"{left} forgotten ids left in the artifact"))
        packed, = con.execute(f"SELECT count(*) FROM {art} WHERE part = 'pack'").fetchone()
        results.append(("release:artifact_packed", packed > 0, f"{packed} packed rows"))
    except Exception as e:  # a missing or unreadable artifact is a failed check
        results.append(("release:artifact", False, f"{type(e).__name__}: {e}"))
    con.close()
    stores = r.get("dead_left") or {}
    results.append(("release:stores_forgotten",
                    len(stores) > 0 and not any(stores.values()),
                    f"forgotten ids still served: {stores}"))
    results.append(("release:id_watermark", r.get("id_watermark") == manifest["max_batch_id"],
                    f"{r.get('id_watermark')} vs {manifest['max_batch_id']}"))
    results.append(("release:markers", r.get("markers") == manifest["batches"],
                    f"{r.get('markers')} of {manifest['batches']} batch markers"))
    return results
