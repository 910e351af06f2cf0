#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Everything the engine reads in a benchmark run comes from here, and the
same seed always gives byte-identical files:

* walmart-shaped master and transaction CSVs (FIXTURES.md section B):
  5,891 customers, 3,631 products, 8 stores, 7 suppliers; transaction
  files with Zipf-skewed customer keys, a small share of unknown customer
  and product keys, all four date formats and rare garbage values;
* TPC-H-shaped parquet tables plus the events/documents/embeddings
  tables (FIXTURES.md section A), at the sf0.01 row counts, for the
  operator suite.

Transaction files carry their index in every orderID
(order_id // ORDER_STRIDE == file index), so the benchmark can tell from
the fact which micro-batch made each file visible.
"""
import csv
import datetime
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_STRIDE = 100_000

N_CUSTOMERS = 5_891
N_PRODUCTS = 3_631
FIRST_CUSTOMER_ID = 1_000_001

STORES = [(1, "Electro Mart"), (2, "Tech Haven"), (3, "Sound Zone"),
          (4, "Game Zone"), (5, "InnoTech"), (6, "Photo World"),
          (7, "Health Zone"), (51, "Pakistan")]
SUPPLIERS = [(9, "Canon Inc."), (13, "Samsung Electronics"),
             (16, "Sony Corporation"), (17, "Garmin Ltd."),
             (18, "Razer Inc."), (39, "Sonos Inc."), (51, "Pakistan")]
CATEGORIES = [
    "Appliances", "Arts, Crafts & Sewing", "Automotive", "Baby",
    "Books, Movies & Music", "Clothing", "Electronics", "Furniture",
    "Grocery", "Health & Beauty", "Home & Kitchen", "Household Essentials",
    "Jewelry & Accessories", "Office & School Supplies", "Patio & Garden",
    "Pets", "Pharmacy & OTC", "Shoes", "Sports & Outdoors", "Toys"]
AGES = ["0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+"]

TX_HEADER = ["", "orderID", "Customer_ID", "Product_ID", "quantity", "date"]
FIRST_DAY = datetime.date(2017, 1, 1)
N_DAYS = (datetime.date(2020, 12, 31) - FIRST_DAY).days + 1
LATEST_YEAR = 2020  # the dashboard's year: the last of the calendar


def rng_for(seed, *tag):
    """An independent stream per (seed, component), so adding a component
    never shifts the values of another."""
    words = [seed] + [int.from_bytes(t.encode(), "little") % (2**32)
                      if isinstance(t, str) else t for t in tag]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(words)))


def _csv_bytes(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def product_ids():
    return [f"P{100000 + 17 * i:08d}" for i in range(N_PRODUCTS)]


def write_masters(out_dir, seed):
    """customer_master_data.csv and product_master_data.csv, pandas shape
    (leading unnamed index column)."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "customers")
    gender = np.where(r.random(N_CUSTOMERS) < 0.717, "M", "F")
    age = r.choice(len(AGES), N_CUSTOMERS, p=[.03, .18, .35, .2, .08, .08, .08])
    occ = r.integers(0, 21, N_CUSTOMERS)
    city = r.choice(np.array(["A", "B", "C"]), N_CUSTOMERS, p=[.27, .42, .31])
    stay = r.integers(0, 5, N_CUSTOMERS)
    married = r.integers(0, 2, N_CUSTOMERS)
    rows = [[i, FIRST_CUSTOMER_ID + i, gender[i], AGES[age[i]], occ[i], city[i],
             stay[i], married[i]] for i in range(N_CUSTOMERS)]
    with open(os.path.join(out_dir, "customer_master_data.csv"), "wb") as f:
        f.write(_csv_bytes(
            ["", "Customer_ID", "Gender", "Age", "Occupation", "City_Category",
             "Stay_In_Current_City_Years", "Marital_Status"], rows))

    r = rng_for(seed, "products")
    cat = r.integers(0, len(CATEGORIES), N_PRODUCTS)
    cents = r.integers(202, 7996, N_PRODUCTS)
    store = r.integers(0, len(STORES), N_PRODUCTS)
    sup = r.integers(0, len(SUPPLIERS), N_PRODUCTS)
    rows = [[i, pid, CATEGORIES[cat[i]], f"{cents[i] // 100}.{cents[i] % 100:02d}",
             STORES[store[i]][0], SUPPLIERS[sup[i]][0], STORES[store[i]][1],
             SUPPLIERS[sup[i]][1]] for i, pid in enumerate(product_ids())]
    with open(os.path.join(out_dir, "product_master_data.csv"), "wb") as f:
        f.write(_csv_bytes(
            ["", "Product_ID", "Product_Category", "price$", "storeID",
             "supplierID", "storeName", "supplierName"], rows))


def _zipf_customer_ranks(seed):
    r = rng_for(seed, "customer-skew")
    weights = 1.0 / np.arange(1, N_CUSTOMERS + 1) ** 1.1
    return r.permutation(N_CUSTOMERS), weights / weights.sum()


def _date_strings():
    """Every day of 2017-2020 in each of the four formats the normalizer
    parses (yyyy-MM-dd, dd-MM-yyyy, MM/dd/yyyy, yyyy/MM/dd)."""
    days = [FIRST_DAY + datetime.timedelta(days=i) for i in range(N_DAYS)]
    return [[d.strftime(f) for d in days]
            for f in ("%Y-%m-%d", "%d-%m-%Y", "%m/%d/%Y", "%Y/%m/%d")]


def tx_file_bytes(seed, file_idx, rows_per_file, ctx=None):
    """One transaction CSV. Orders hold 1-4 products; every orderID is
    file_idx * ORDER_STRIDE + order number."""
    perm, p, pids, dates = ctx if ctx is not None else _tx_context(seed)
    r = rng_for(seed, "tx", file_idx)
    n = rows_per_file
    cust = FIRST_CUSTOMER_ID + perm[r.choice(N_CUSTOMERS, n, p=p)]
    cust_kind = r.random(n)
    prod = r.integers(0, N_PRODUCTS, n)
    prod_kind = r.random(n)
    qty = r.integers(1, 11, n)
    qty_kind = r.random(n)
    day = r.integers(0, N_DAYS, n)
    style = r.choice(4, n, p=[.85, .05, .05, .05])
    date_kind = r.random(n)
    basket = r.integers(1, 5, n)
    rows, order_no, left = [], 0, 0
    for i in range(n):
        if left == 0:
            order_no += 1
            left = basket[i]
        left -= 1
        if cust_kind[i] < 0.02:
            c = str(7_000_001 + int(cust[i]) % 1000)   # unknown customer
        elif cust_kind[i] < 0.022:
            c = "n/a"                                  # garbage key
        else:
            c = str(int(cust[i]))
        pid = (f"P9{int(prod[i]):07d}" if prod_kind[i] < 0.02 else pids[prod[i]])
        if qty_kind[i] < 0.002:
            q = "x"
        elif qty_kind[i] < 0.1:
            q = f"{qty[i]}.0"
        else:
            q = str(qty[i])
        if date_kind[i] < 0.001:
            d = "31/31/2019"                           # garbage date
        else:
            d = dates[style[i]][day[i]]
        rows.append([i, file_idx * ORDER_STRIDE + order_no, c, pid, q, d])
    return _csv_bytes(TX_HEADER, rows)


def tx_file_name(file_idx):
    return f"tx_{file_idx:05d}.csv"


def _tx_context(seed):
    return _zipf_customer_ranks(seed) + (product_ids(), _date_strings())


def write_tx_files(out_dir, seed, n_files, rows_per_file, first=0):
    """Files first .. first + n_files - 1."""
    os.makedirs(out_dir, exist_ok=True)
    ctx = _tx_context(seed)
    for i in range(first, first + n_files):
        with open(os.path.join(out_dir, tx_file_name(i)), "wb") as f:
            f.write(tx_file_bytes(seed, i, rows_per_file, ctx))


# --- operator-suite tables (TPC-H shape, sf0.01 row counts) --------------

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}


def _ts_us(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype="int64") * 86_400_000_000,
                    pa.timestamp("us"))


def _round2(x):
    return np.round(x, 2)


def write_tables(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    n = ROWS["customer"]
    r = rng_for(seed, "customer")
    put("customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _round2(r.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": r.choice(np.array(["AUTOMOBILE", "BUILDING",
                                           "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"]), n)})
    n = ROWS["supplier"]
    r = rng_for(seed, "supplier")
    put("supplier", {
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _round2(r.uniform(-999.99, 9999.99, n))})
    n = ROWS["part"]
    r = rng_for(seed, "part")
    colors = np.array(["red", "blue", "green", "small", "large", "shiny"])
    nouns = np.array(["widget", "bolt", "ring", "gear", "valve", "plate"])
    put("part", {
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(colors, n),
                                              r.choice(nouns, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": r.choice(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                     "SMALL", "STANDARD"]), n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": _round2(900.0 + (np.arange(n) % 1000) / 10.0)})
    n_orders = ROWS["orders"]
    r = rng_for(seed, "orders")
    day0 = (datetime.date(1995, 1, 1) - datetime.date(1970, 1, 1)).days
    odays = day0 + r.integers(0, 2404, n_orders)
    put("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, ROWS["customer"], n_orders),
                              pa.int64()),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": _round2(r.uniform(1000.0, 500000.0, n_orders)),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": r.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_orders)})
    n = ROWS["lineitem"]
    r = rng_for(seed, "lineitem")
    okey = r.integers(0, n_orders, n)
    qty = r.integers(1, 51, n).astype("float64")
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _round2(qty * r.uniform(900.0, 2000.0, n)),
        "l_discount": _round2(r.integers(0, 11, n) / 100.0),
        "l_tax": _round2(r.integers(0, 9, n) / 100.0),
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": r.choice(np.array(["F", "O"]), n),
        "l_shipdate": _ts_us(odays[okey] + r.integers(1, 122, n))})
    n = ROWS["events"]
    r = rng_for(seed, "events")
    t0 = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days * 86_400_000_000
    gaps = r.integers(1, 518_400_000, n)  # mean gap ~4.3 min
    put("events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, ROWS["customer"] // 10, n),
                            pa.int64()),
        "event_type": r.choice(np.array(["click", "error", "purchase",
                                         "signup", "view"]), n),
        "value": _round2(r.uniform(0.01, 490.02, n)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    n = ROWS["documents"]
    r = rng_for(seed, "documents")
    texts = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:   # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": r.choice(np.array(["de", "en", "es", "fr", "zh"]), n,
                         p=[.14, .44, .14, .14, .14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = ROWS["embeddings"]
    r = rng_for(seed, "embeddings")
    label = r.integers(0, 10, n)
    centers = r.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + r.normal(0.0, 0.8, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
