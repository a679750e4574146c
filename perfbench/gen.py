"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments write byte-identical inputs.

* ``olist_csvs`` writes the seven Olist-shaped CSVs the ETL pipeline
  reads (shapes of ``graft.etl.Schemas``) and returns the invariants the
  loaded fact table must satisfy.
* ``star_tables`` writes the TPC-H-ish parquet tables the relational
  queries read (region, nation, customer, supplier, part, orders,
  lineitem, events), one file and one row group each.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_US = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
_DAY_US = 86_400 * 1_000_000

# ---------------------------------------------------------------- olist

_STATES = ["SP", "RJ", "MG", "RS", "DF"]
_CITIES = ["sao paulo", "rio de janeiro", "belo horizonte", "porto alegre",
           "brasilia"]
_SELLER_STATES = ["SP", "RJ", "MG", "PR", "BA"]
_CATEGORIES = ["electronics", "furniture", "toys", "books", "clothing"]
_STATUS = ["delivered", "shipped", "processing", "canceled"]
_STATUS_P = [0.7, 0.1, 0.1, 0.1]


def _ts(base: dt.datetime, seconds: int) -> str:
    # the reference draw carries nine fractional digits on every timestamp
    return (base + dt.timedelta(seconds=int(seconds))).strftime(
        "%Y-%m-%d %H:%M:%S") + ".000000000"


def olist_csvs(out_dir: str, seed: int, orders: int) -> dict:
    """Write the Olist CSVs with ``orders`` orders (the reference draw
    has 200 orders, 100 customers, 300 items, 150 products and 50
    sellers; every table scales with ``orders``). Returns the fact
    table's expected row count and money sums."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(orders // 2, 1)
    n_prod = max(orders * 3 // 4, 1)
    n_sell = max(orders // 4, 1)
    year0 = dt.datetime(2022, 1, 1)

    def write(name, header, rows):
        with open(os.path.join(out_dir, name), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)

    def num_or_null(v, p_null):
        return "" if rng.random() < p_null else str(int(v))

    write("olist_customers_dataset.csv",
          ["customer_id", "customer_unique_id", "customer_zip_code_prefix",
           "customer_city", "customer_state"],
          [(f"cust_{i}", f"uniq_{i}", num_or_null(rng.integers(10000, 100000), 0.02),
            _CITIES[k], _STATES[k])
           for i, k in enumerate(rng.integers(0, 5, n_cust))])

    write("olist_sellers_dataset.csv",
          ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"],
          [(f"seller_{i}", num_or_null(rng.integers(10000, 100000), 0.02),
            _CITIES[k], _SELLER_STATES[k])
           for i, k in enumerate(rng.integers(0, 5, n_sell))])

    write("olist_products_dataset.csv",
          ["product_id", "product_category_name", "product_name_length",
           "product_description_length", "product_photos_qty", "product_weight_g",
           "product_length_cm", "product_height_cm", "product_width_cm"],
          [(f"prod_{i}", _CATEGORIES[rng.integers(0, 5)],
            num_or_null(rng.integers(10, 60), 0.05),
            num_or_null(rng.integers(50, 2000), 0.05),
            num_or_null(rng.integers(1, 6), 0.05),
            num_or_null(rng.integers(100, 20000), 0.05),
            num_or_null(rng.integers(10, 100), 0.05),
            num_or_null(rng.integers(2, 60), 0.05),
            num_or_null(rng.integers(10, 100), 0.05))
           for i in range(n_prod)])

    write("product_category_name_translation.csv",
          ["product_category_name", "product_category_name_english"],
          [(c, c) for c in _CATEGORIES])

    order_rows = []
    for i in range(orders):
        status = _STATUS[rng.choice(4, p=_STATUS_P)]
        # purchases fall on whole days, as in the reference draw, so the
        # date dimension (min..max purchase, daily) spans every one of them
        purchase = int(rng.integers(0, 365)) * 86400
        approved = purchase + int(rng.integers(600, 2 * 86400))
        carrier = approved + int(rng.integers(86400, 5 * 86400))
        delivered = carrier + int(rng.integers(86400, 15 * 86400))
        estimated = purchase + int(rng.integers(7, 30)) * 86400
        missing = status != "delivered"
        order_rows.append((
            f"order_{i}", f"cust_{rng.integers(0, n_cust)}", status,
            _ts(year0, purchase), _ts(year0, approved),
            "" if status in ("processing", "canceled") else _ts(year0, carrier),
            "" if missing else _ts(year0, delivered), _ts(year0, estimated)))
    write("olist_orders_dataset.csv",
          ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
           "order_approved_at", "order_delivered_carrier_date",
           "order_delivered_customer_date", "order_estimated_delivery_date"],
          order_rows)

    # reviews: most orders one, a few none, a few two (the left join in
    # the fact multiplies items of a doubly-reviewed order)
    n_reviews = rng.choice([0, 1, 2], size=orders, p=[0.05, 0.9, 0.05])
    review_rows, r = [], 0
    for i, k in enumerate(n_reviews):
        for _ in range(k):
            created = int(rng.integers(0, 400 * 86400))
            review_rows.append((
                f"review_{r}", f"order_{i}",
                num_or_null(rng.integers(1, 6), 0.03),
                "" if rng.random() < 2 / 3 else f"title {r}",
                "" if rng.random() < 0.5 else f"message {r}",
                _ts(year0, created), _ts(year0, created + int(rng.integers(3600, 86400 * 3)))))
            r += 1
    write("olist_order_reviews_dataset.csv",
          ["review_id", "order_id", "review_score", "review_comment_title",
           "review_comment_message", "review_creation_date", "review_answer_timestamp"],
          review_rows)

    # items: 1-4 per sampled order; money in cents so every sum is exact
    item_rows, fact_rows, cents, freight_cents = [], 0, 0, 0
    for i in rng.choice(orders, size=orders * 3 // 4, replace=False):
        for item in range(1, int(rng.integers(1, 5)) + 1):
            price = int(rng.integers(1000, 100001))
            freight = int(rng.integers(500, 10001))
            item_rows.append((
                f"order_{i}", item, f"prod_{rng.integers(0, n_prod)}",
                f"seller_{rng.integers(0, n_sell)}",
                _ts(year0, int(rng.integers(0, 370 * 86400))),
                f"{price / 100:.2f}", f"{freight / 100:.2f}"))
            mult = max(int(n_reviews[i]), 1)
            fact_rows += mult
            cents += mult * price
            freight_cents += mult * freight
    write("olist_order_items_dataset.csv",
          ["order_id", "order_item_id", "product_id", "seller_id",
           "shipping_limit_date", "price", "freight_value"],
          item_rows)
    return {"items": len(item_rows), "fact_rows": fact_rows,
            "sum_price": cents / 100, "sum_freight": freight_cents / 100}


# ---------------------------------------------------------------- star

_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPE = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(rng, n, span_days):
    return pa.array(_EPOCH_US + rng.integers(0, span_days, n) * _DAY_US,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(seed: int, n: int, n_cust: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _days(rng, n, 2404),
        "o_orderpriority": pa.array(np.array(_PRIORITY)[rng.integers(0, 5, n)]),
    })


def star_tables(out_dir: str, seed: int, sf: float) -> None:
    """TPC-H-ish tables at scale ``sf`` (sf 1 = 6 M lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(_REGIONS)}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out_dir}/supplier.parquet")
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PART_TYPE)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)),
    }), f"{out_dir}/part.parquet")
    _write(orders_table(seed, n_ord, n_cust), f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(rng, n_line, 2499),
    }), f"{out_dir}/lineitem.parquet")
    n_ev, t0 = int(1_000_000 * sf), int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(t0 + rng.integers(0, 30 * _DAY_US, n_ev), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 1), n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out_dir}/events.parquet")
