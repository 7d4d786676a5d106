"""Seeded input generators for the benchmark workloads.

Every value is a pure function of (seed, row number) through DuckDB's
`hash`, so the same seed always gives byte-identical inputs.

* `olap(dir, seed, sf)` writes the four star-schema tables the OLAP queries
  read (lineitem, part, supplier, nation) as parquet with the column types
  of the repository's TPC-H-like test corpus.
* `retail(dir, seed, n_txn, n_cust_rows)` writes the three dirty CSVs of
  the reference ETL and returns what a correct ETL must produce. The
  expectations come from the generator's own ground truth (each row's
  intended date, quantity, price and validity), never from the ETL code.
"""
import csv
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")

LINEITEM = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", TS)])
PART = pa.schema([
    ("p_partkey", pa.int64()), ("p_name", pa.string()),
    ("p_brand", pa.string()), ("p_type", pa.string()),
    ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
SUPPLIER = pa.schema([
    ("s_suppkey", pa.int64()), ("s_name", pa.string()),
    ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
NATION = pa.schema([
    ("n_nationkey", pa.int32()), ("n_name", pa.string()),
    ("n_regionkey", pa.int32())])

OLAP_TABLES = ("lineitem", "part", "supplier", "nation")


def _connect():
    con = duckdb.connect()
    con.sql("SET threads=1")  # insertion order stays row order
    return con


def _write(con, sql, schema, path):
    table = con.sql(sql).arrow().cast(schema)
    pq.write_table(table, path)
    return table.num_rows


def olap(out, seed, sf):
    """Star schema at scale factor `sf` (sf 0.1 = 600k lineitem rows)."""
    os.makedirs(out, exist_ok=True)
    con = _connect()
    n_line = int(6_000_000 * sf)
    n_part = max(100, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_order = max(1, n_line * 10 // 41)  # ~4.1 lines per basket

    def h(tag, key="i"):
        return f"(hash({key}, {seed}, '{tag}') >> 1)::BIGINT"

    rows = {}
    rows["nation"] = _write(con, f"""
        SELECT i AS n_nationkey, 'NATION_' || i AS n_name, i % 5 AS n_regionkey
        FROM range(25) t(i)""", NATION, f"{out}/nation.parquet")
    rows["supplier"] = _write(con, f"""
        SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
          {h('sn')} % 25 AS s_nationkey,
          ({h('sb')} % 1100000)::DOUBLE / 100 - 999.99 AS s_acctbal
        FROM range({n_supp}) t(i)""", SUPPLIER, f"{out}/supplier.parquet")
    rows["part"] = _write(con, f"""
        SELECT i AS p_partkey,
          ['large','hot','blue','small','red','green','tiny','royal'][1 + {h('pa')} % 8]
            || ' ' ||
          ['ring','bolt','nut','gear','plate','valve','spring','cable'][1 + {h('pn')} % 8]
            AS p_name,
          'Brand#' || (1 + {h('pb')} % 25) AS p_brand,
          ['LARGE','ECONOMY','SMALL','MEDIUM','STANDARD','PROMO'][1 + {h('pt')} % 6]
            AS p_type,
          1 + {h('ps')} % 50 AS p_size,
          (9000 + i % 2000)::DOUBLE / 10 AS p_retailprice
        FROM range({n_part}) t(i)""", PART, f"{out}/part.parquet")
    rows["lineitem"] = _write(con, f"""
        SELECT {h('lo')} % {n_order} AS l_orderkey,
          {h('lp')} % {n_part} AS l_partkey,
          {h('ls')} % {n_supp} AS l_suppkey,
          1 + {h('ln')} % 7 AS l_linenumber,
          (1 + {h('lq')} % 50)::DOUBLE AS l_quantity,
          (90000 + {h('le')} % 10410000)::DOUBLE / 100 AS l_extendedprice,
          ({h('ld')} % 11)::DOUBLE / 100 AS l_discount,
          ({h('lt')} % 9)::DOUBLE / 100 AS l_tax,
          ['A','N','R'][1 + {h('lr')} % 3] AS l_returnflag,
          ['O','F'][1 + {h('lf')} % 2] AS l_linestatus,
          (DATE '1995-01-02' + ({h('lsd')} % 2499)::INTEGER)::TIMESTAMP AS l_shipdate
        FROM range({n_line}) t(i)""", LINEITEM, f"{out}/lineitem.parquet")
    return rows


# --- retail ----------------------------------------------------------------

N_CUSTOMERS = 100
N_PRODUCTS = 101


def _products(seed):
    """The 101 product rows with every planted quirk, plus the ground truth:
    {id: price_cents} for rows that survive cleaning, and the rejects.
    Quirks go to the first ranks of a seeded permutation of the ids, so
    every seed plants every quirk."""
    con = _connect()
    draws = con.sql(f"""
        SELECT i, row_number() OVER (ORDER BY hash(i, {seed}, 'pq')) AS rank,
          100 + hash(i, {seed}, 'pp') % 199900 AS cents,
          hash(i, {seed}, 'sup') % 20 AS sup, hash(i, {seed}, 'st') % 10 AS st
        FROM range(1, {N_PRODUCTS}) t(i) ORDER BY i""").fetchall()
    rows, valid, rejects = [], {}, 0
    for i, rank, cents, sup, st in draws:
        name, price, pid = f"Product {i}", f"{cents // 100}.{cents % 100:02d}$", str(i)
        if rank <= 4:        # unparseable price: cleaned to 0.00
            price, cents = "abc$", 0
        elif rank <= 7:      # '-' is stripped by the cleaning regex
            price = "-" + price
        elif rank <= 10:     # a price without the '$' suffix
            price = price[:-1]
        elif rank <= 12:     # empty key field: quarantined, never ingested
            name, cents = "", None
        elif rank <= 15:     # padded fields are trimmed
            pid, name = f" {i} ", f"  {name} "
        supplier = f"Supplier {sup}, Inc." if sup < 5 else f"Supplier {sup}"
        rows.append([pid, name, price, str(100 + sup), supplier,
                     str(1 + st), f"Store {1 + st}"])
        if cents is None:
            rejects += 1
        else:
            valid[i] = cents
    # the reference's planted anomaly row, verbatim
    rows.append(["101", "Red Tomatoes", "1899.99$", "51", "Pakistan", "51", "Pakistan"])
    valid[101] = 189999
    return rows, valid, rejects


def retail(out, seed, n_txn, n_cust_rows):
    """Dirty reference-shaped CSVs plus the expected ETL results."""
    os.makedirs(out, exist_ok=True)
    con = _connect()

    rows, valid_price, product_rejects = _products(seed)
    with open(f"{out}/products_data.csv", "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["productID", "productName", "productPrice", "supplierID",
                    "supplierName", "storeID", "storeName"])
        w.writerows(rows)

    # Customers: the first 100 rows introduce every id once, later rows
    # re-send an id; about 3 in 1000 re-sends change the name, which opens a
    # new SCD2 version. Identical re-sends collapse into the current one.
    con.sql(f"""
        CREATE TABLE cust AS
        SELECT i, id,
          CASE WHEN hash(id, {seed}, 'cg') % 2 = 0 THEN 'Male' ELSE 'Female' END AS gender,
          sum(CASE WHEN i >= {N_CUSTOMERS} AND hash(i, {seed}, 'cv') % 1000 < 3
                   THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY i) AS ver
        FROM (SELECT i,
                CASE WHEN i < {N_CUSTOMERS} THEN 1 + i
                     ELSE 1 + hash(i, {seed}, 'ci') % {N_CUSTOMERS} END AS id
              FROM range({n_cust_rows}) t(i))""")
    con.sql(f"""
        COPY (SELECT id AS customer_id,
                CASE WHEN id % 9 = 0 THEN 'Last' || id || ', First' ELSE 'Customer ' || id END
                  || ' v' || ver AS customer_name,
                gender
              FROM cust ORDER BY i)
        TO '{out}/customers_data.csv' (HEADER, DELIMITER ',', QUOTE '"')""")
    scd2_versions, = con.sql("SELECT count(*) FROM (SELECT DISTINCT id, ver FROM cust)").fetchone()

    # Transactions. `fmt` picks one of the five date formats the reference
    # data mixes, a garbage date, or the 1819 outlier; `qk` plants negative
    # and garbage quantities; ~3% of rows re-use an earlier ORDER_ID.
    con.sql(f"""
        CREATE TABLE txn AS
        SELECT i,
          CASE WHEN i > 0 AND hash(i, {seed}, 'dup') % 100 < 3
               THEN 100000 + hash(i, {seed}, 'dk') % i ELSE 100000 + i END AS order_id,
          DATE '2017-01-01' + (hash(i, {seed}, 'dd') % 1095)::INTEGER AS d,
          hash(i, {seed}, 'fmt') % 200 AS fmt,
          hash(i, {seed}, 'hms') % 86400 AS secs,
          1 + hash(i, {seed}, 'tp') % {N_PRODUCTS} AS product_id,
          hash(i, {seed}, 'qq') % 11 AS qty,
          hash(i, {seed}, 'qk') % 200 AS qk,
          1 + hash(i, {seed}, 'tc') % {N_CUSTOMERS + 2} AS customer_id,
          1 + hash(i, {seed}, 'ti') % 672 AS time_id
        FROM range({n_txn}) t(i)""")
    con.sql(f"""
        COPY (SELECT order_id AS "Order ID",
                CASE WHEN fmt < 80 THEN strftime(d + to_seconds(secs), '%Y-%m-%d %H:%M:%S')
                     WHEN fmt < 120 THEN strftime(d, '%Y-%m-%d')
                     WHEN fmt < 150 THEN strftime(d, '%m/%d/%Y')
                     WHEN fmt < 175 THEN strftime(d, '%d-%m-%Y')
                     WHEN fmt < 197 THEN strftime(d, '%Y/%m/%d')
                     WHEN fmt < 199 THEN 'not-a-date'
                     ELSE strftime(d + to_seconds(secs), '1819-%m-%d %H:%M:%S') END
                  AS "Order Date",
                product_id AS "ProductID",
                CASE WHEN qk < 2 THEN '-' || (1 + qty) WHEN qk < 3 THEN 'xyz'
                     ELSE qty::VARCHAR END AS "Quantity Ordered",
                customer_id, time_id
              FROM txn ORDER BY i)
        TO '{out}/transactions.csv' (HEADER, DELIMITER ',', QUOTE '"')""")

    con.sql("CREATE TABLE price (product_id BIGINT, cents BIGINT)")
    con.executemany("INSERT INTO price VALUES (?, ?)", sorted(valid_price.items()))
    # ground truth: a row survives cleaning when its date and quantity are
    # well formed, and joins when its customer and product exist
    txn_rejects, = con.sql(
        "SELECT count(*) FROM txn WHERE fmt BETWEEN 197 AND 198 OR qk < 3").fetchone()
    fact_rows, sale_cents, qty_total = con.sql(f"""
        WITH joined AS (
          SELECT t.i, t.order_id, t.qty, p.cents FROM txn t
          JOIN price p USING (product_id)
          WHERE NOT (fmt BETWEEN 197 AND 198 OR qk < 3)
            AND customer_id <= {N_CUSTOMERS}),
        last AS (SELECT arg_max(qty * cents, i) AS sale, arg_max(qty, i) AS qty
                 FROM joined GROUP BY order_id)
        SELECT count(*), sum(sale)::BIGINT, sum(qty)::BIGINT FROM last""").fetchone()
    return {
        "txn_rows": n_txn,
        "txn_rejects": txn_rejects,
        "product_rejects": product_rejects,
        "fact_rows": fact_rows,
        "sale_total": f"{sale_cents // 100}.{sale_cents % 100:02d}",
        "quantity_total": qty_total,
        "scd2_versions": scd2_versions,
        "customers": N_CUSTOMERS,
    }
