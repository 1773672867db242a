"""Seeded benchmark inputs: warehouse source tables, the raw retail CSV
and an embedding corpus.

Pure numpy + pyarrow, so generation never touches Spark and is never
inside a timed region. The same ``seed`` gives byte-identical files;
``scale`` follows TPC-H sizing (customers = 150k x scale, orders =
1.5M x scale, about four lines per order).

The raw CSV is in the reference ``RAW_RETAIL_SCHEMA`` layout, one line
per order line. Every line of a transaction carries the order's
customer and ``o_orderdate``, so a transaction only fails the
collision check where a collision was injected. Defects are injected
at the rates in ``RATES``:

- ``null``: one critical field of the line is blank (line dropped);
- ``bad_date`` / ``bad_time``: unparseable Date / Time (line dropped);
- ``collision``: the line's Transaction_ID is rewritten to another
  order's id (both transactions are dropped whole);
- ``category_null``: a categorical field is blank (kept, filled
  'Unknown').
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

RATES = {
    "null": 0.01,
    "bad_date": 0.01,
    "bad_time": 0.005,
    "collision": 0.002,
    "category_null": 0.02,
}

EMB_DIM = 64
EMB_CLUSTERS = 10

# One year of orders, so month-partitioned tables have twelve
# partitions; it includes June 1998, the month q55 reads.
_ORDER_LO = np.datetime64("1997-09-01", "D")
_ORDER_HI = np.datetime64("1998-08-31", "D")
# The newest order month, which the incremental snapshot step appends.
ORDER_LAST_MONTH = "1998-08-01"
ORDER_LAST_MONTH_KEY = "081998"  # its MMYYYY smart key
ORDER_PRIOR_MONTH = "1998-07-01"
_EVENTS_LO = np.datetime64("2024-01-01T00:00:00", "us")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "old", "red", "small", "smooth"]
_NOUNS = ["bolt", "gear", "nut", "plate", "ring", "rod", "screw", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_RETURN_FLAGS = ["A", "N", "R"]
_GENDERS = ["Female", "Male"]
_PAYMENTS = ["Cash", "Credit Card", "Debit Card", "PayPal"]
_FEEDBACK = ["Average", "Bad", "Excellent", "Good"]
_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(d: np.ndarray) -> np.ndarray:
    """datetime64[D] -> microsecond timestamps (Spark TIMESTAMP)."""
    return d.astype("datetime64[us]")


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Source tables in the engine's fixture schemas (``TABLE_SCHEMAS``)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    cust_keys = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": cust_keys,
            "c_name": [f"Customer#{k:09d}" for k in cust_keys],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    supp_keys = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": supp_keys,
            "s_name": [f"Supplier#{k:09d}" for k in supp_keys],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    part_keys = np.arange(n_part, dtype=np.int64)
    part_price = np.round(900.0 + (part_keys % 1000) * 0.1, 2)
    part = pa.table(
        {
            "p_partkey": part_keys,
            "p_name": _pick(rng, _ADJECTIVES, n_part) + " " + _pick(rng, _NOUNS, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": part_price,
        }
    )
    span_days = int((_ORDER_HI - _ORDER_LO).astype(int))
    order_date = _ORDER_LO + rng.integers(0, span_days + 1, n_ord).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, _STATUSES, n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n_ord), 2),
            "o_orderdate": _days(order_date),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_line = len(l_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = order_date[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_partkey,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * part_price[l_partkey], 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, _RETURN_FLAGS, n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(ship),
        }
    )
    ev_offset = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _EVENTS_LO + ev_offset.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 2000, n_events).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0.0, 200.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _date_strings(days: np.ndarray) -> np.ndarray:
    """datetime64[D] -> 'M/d/yyyy' strings (the reference CSV format)."""
    y = days.astype("datetime64[Y]")
    m = days.astype("datetime64[M]")
    year = y.astype(int) + 1970
    month = (m - y.astype("datetime64[M]")).astype(int) + 1
    day = (days - m.astype("datetime64[D]")).astype(int) + 1
    return np.char.add(
        np.char.add(np.char.add(month.astype(str), "/"), np.char.add(day.astype(str), "/")),
        year.astype(str),
    ).astype(object)


def make_raw_csv(tables: dict[str, pa.Table], seed: int) -> pa.Table:
    """One raw retail line per order line, defects injected at ``RATES``."""
    rng = np.random.default_rng([seed, 2])
    li = tables["lineitem"]
    orders = tables["orders"]
    cust = tables["customer"]
    part = tables["part"]
    l_order = li["l_orderkey"].to_numpy()
    l_part = li["l_partkey"].to_numpy()
    n = len(l_order)
    o_cust = orders["o_custkey"].to_numpy()[l_order]
    o_date = orders["o_orderdate"].to_numpy().astype("datetime64[D]")[l_order]
    c_nation = cust["c_nationkey"].to_numpy()[o_cust]
    c_bal = cust["c_acctbal"].to_numpy()[o_cust]
    qty = li["l_quantity"].to_numpy().astype(np.int64)
    total = li["l_extendedprice"].to_numpy()

    txn = l_order.copy()
    collide = rng.random(n) < RATES["collision"]
    txn[collide] = rng.integers(0, len(orders), int(collide.sum()))
    date_s = _date_strings(o_date)
    bad_date = rng.random(n) < RATES["bad_date"]
    bad_year = o_date[bad_date].astype("datetime64[Y]").astype(int) + 1970
    date_s[bad_date] = np.char.add("13/45/", bad_year.astype(str))
    secs = rng.integers(0, 86_400, n)
    time_s = np.char.add(
        np.char.add((secs // 3600).astype(str), ":"),
        np.char.add(
            np.char.add(np.char.zfill((secs // 60 % 60).astype(str), 2), ":"),
            np.char.zfill((secs % 60).astype(str), 2),
        ),
    ).astype(object)
    bad_time = rng.random(n) < RATES["bad_time"]
    time_s[bad_time] = "25:61:61"
    year = o_date.astype("datetime64[Y]").astype(int) + 1970
    month_idx = (o_date.astype("datetime64[M]").astype(int) % 12)
    cols: dict[str, pa.Array] = {
        "Transaction_ID": pa.array(txn),
        "Customer_ID": pa.array(o_cust),
        "Name": pa.array(cust["c_name"].to_numpy(zero_copy_only=False)[o_cust]),
        "Email": pa.array(np.char.add(np.char.add("c", o_cust.astype(str)), "@example.com").astype(object)),
        "Phone": pa.array(np.char.add("555-", np.char.zfill((o_cust % 10000).astype(str), 4)).astype(object)),
        "Address": pa.array(np.char.add((o_cust % 997).astype(str), " Main St").astype(object)),
        "City": pa.array(np.char.add("City_", (o_cust % 50).astype(str)).astype(object)),
        "State": pa.array(np.char.add("State_", (c_nation % 10).astype(str)).astype(object)),
        "Zipcode": pa.array(10000 + o_cust % 90000),
        "Country": pa.array(np.char.add("NATION_", c_nation.astype(str)).astype(object)),
        "Age": pa.array(18 + o_cust % 60),
        "Gender": pa.array(np.asarray(_GENDERS, dtype=object)[o_cust % 2]),
        "Income": pa.array(
            np.where(c_bal < 3000, "Low", np.where(c_bal < 7000, "Medium", "High")).astype(object)
        ),
        "Customer_Segment": pa.array(cust["c_mktsegment"].to_numpy(zero_copy_only=False)[o_cust]),
        "Date": pa.array(date_s),
        "Year": pa.array(year.astype(np.int64)),
        "Month": pa.array(np.asarray(_MONTHS, dtype=object)[month_idx]),
        "Time": pa.array(time_s),
        "Total_Purchases": pa.array(qty),
        "Amount": pa.array(np.round(total / qty, 2)),
        "Total_Amount": pa.array(total),
        "Product_Category": pa.array(part["p_type"].to_numpy(zero_copy_only=False)[l_part]),
        "Product_Brand": pa.array(part["p_brand"].to_numpy(zero_copy_only=False)[l_part]),
        "Product_Type": pa.array(part["p_type"].to_numpy(zero_copy_only=False)[l_part]),
        "Shipping_Method": pa.array(orders["o_orderpriority"].to_numpy(zero_copy_only=False)[l_order]),
        "Payment_Method": pa.array(_pick(rng, _PAYMENTS, n)),
        "Order_Status": pa.array(orders["o_orderstatus"].to_numpy(zero_copy_only=False)[l_order]),
        "Ratings": pa.array(rng.integers(1, 6, n).astype(np.float64)),
        "products": pa.array(part["p_name"].to_numpy(zero_copy_only=False)[l_part]),
        "Feedback": pa.array(_pick(rng, _FEEDBACK, n)),
    }
    critical = ["Transaction_ID", "Customer_ID", "Date", "Time", "Total_Amount", "Total_Purchases", "Amount"]
    null_line = rng.random(n) < RATES["null"]
    null_col = rng.integers(0, len(critical), n)
    for i, name in enumerate(critical):
        mask = null_line & (null_col == i)
        cols[name] = pc.if_else(pa.array(mask), pa.nulls(n, cols[name].type), cols[name])
    categorical = ["Income", "Customer_Segment", "Shipping_Method", "Payment_Method", "Feedback"]
    cat_null = rng.random(n) < RATES["category_null"]
    cat_col = rng.integers(0, len(categorical), n)
    for i, name in enumerate(categorical):
        mask = cat_null & (cat_col == i)
        cols[name] = pc.if_else(pa.array(mask), pa.nulls(n, cols[name].type), cols[name])
    return pa.table(cols)


def write_csv(table: pa.Table, path: str) -> None:
    """Semicolon CSV with a header; nulls are empty fields."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(
        table,
        path,
        pacsv.WriteOptions(delimiter=";", quoting_style="needed"),
    )


def make_embeddings(seed: int, n: int, dim: int = EMB_DIM) -> np.ndarray:
    """Clustered float32 vectors: ``EMB_CLUSTERS`` centres plus noise."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(EMB_CLUSTERS, dim))
    label = rng.integers(0, EMB_CLUSTERS, n)
    return (centres[label] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)


def generate(seed: int, scale: float, out_dir: str) -> dict[str, str]:
    """Write every warehouse input for ``seed`` under ``out_dir``;
    returns their paths."""
    tables = make_tables(seed, scale)
    sf_dir = os.path.join(out_dir, "sf")
    write_tables(tables, sf_dir)
    csv_path = os.path.join(out_dir, "raw", "retail.csv")
    write_csv(make_raw_csv(tables, seed), csv_path)
    return {"sf_dir": sf_dir, "csv": csv_path}
