"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, index)``: the same seed
writes byte-identical files, a different seed writes different ones
(``test_gen.py`` pins both). The engine only ever sees the files these
functions write; nothing here imports Spark.

Shapes follow the engine's raw-table schemas (TPC-H-ish star inputs,
``documents``, ``embeddings``) and the all-string staging CSVs of the
cleaning pipeline, with the dirt classes the pipeline exists to handle.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NULL_TOKEN = r"\N"
EPOCH = datetime(1995, 1, 1)
ORDER_DAYS = 2405  # orders span 1995-01-01 .. 2001-07-31

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
CATEGORIES = ["Home Decor", "Accessories", "Kitchen", "Stationery", "Miscellaneous"]
ADJ = ["large", "hot", "cold", "smooth", "bright", "dark", "tiny", "royal"]
NOUN = ["ring", "bolt", "lamp", "mug", "card", "frame", "clock", "vase"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "zh"]

SALES_COLS = [
    "invoiceid", "stockcode", "description", "customerid",
    "date", "quantity", "unitprice", "totalamount",
]
PRODUCT_COLS = ["stockcode", "description", "unitprice", "category", "brand"]
DATE_COLS = ["date", "year", "month", "day", "weekday"]


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, table, index) so adding a table or a
    drop never shifts the values of another."""
    return np.random.default_rng([seed, *stream])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") * 86_400_000_000) + int(
        (EPOCH - datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    return pa.array(us, type=pa.timestamp("us"))


@dataclass
class StarSizes:
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000


def star_tables(seed: int, sizes: StarSizes) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem with the
    column names and arrow types of the engine's raw-table readers."""
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rng(seed, 1)
    nc = sizes.customers
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)],
    })

    r = rng(seed, 2)
    ns = sizes.suppliers
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2),
    })

    r = rng(seed, 3)
    npart = sizes.parts
    price = np.round(r.uniform(900.0, 1000.0, npart), 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(r.integers(0, len(ADJ), npart), r.integers(0, len(NOUN), npart))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, len(PART_TYPES), npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price,
    })

    r = rng(seed, 4)
    no = sizes.orders
    # ~5% of customers never order (left-join / CLTV zero rows)
    active = max(1, int(nc * 0.95))
    odays = r.integers(0, ORDER_DAYS, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, active, no), pa.int64()),
        "o_orderstatus": [STATUS[i] for i in r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITY[i] for i in r.integers(0, 5, no)],
    })

    r = rng(seed, 5)
    nlines = r.integers(1, 8, no)
    lo = np.repeat(np.arange(no), nlines)
    ln = np.concatenate([np.arange(1, k + 1) for k in nlines])
    n = len(lo)
    pk = r.integers(0, npart, n)
    qty = r.integers(1, 51, n).astype("float64")
    flags = r.integers(0, 3, n)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pk], 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": _ts(odays[lo] + r.integers(1, 122, n)),
    })
    return tables


def write_star(seed: int, sizes: StarSizes, out_dir: str) -> dict[str, int]:
    """Write the star inputs as one parquet file per table; returns rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in star_tables(seed, sizes).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# ---------------------------------------------------------------------------
# text corpus + near-duplicate batches
# ---------------------------------------------------------------------------

VOCAB = [f"w{i}" for i in range(400)]


def corpus_texts(seed: int, n: int) -> list[str]:
    r = rng(seed, 10)
    lens = r.integers(20, 61, n)
    # Zipf-ish word frequencies, as in natural text
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    p /= p.sum()
    return [" ".join(VOCAB[i] for i in r.choice(len(VOCAB), k, p=p)) for k in lens]


def documents_table(seed: int, ids: np.ndarray, texts: list[str]) -> pa.Table:
    r = rng(seed, 11)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), len(texts))],
        "source": [f"src{i}" for i in r.integers(0, 20, len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def near_dup_batch(
    seed: int, index: int, corpus: list[str], size: int, first_id: int
) -> tuple[np.ndarray, list[str]]:
    """A probe batch: ~half near-duplicates of corpus docs (each word
    substituted / deleted / kept at a seeded edit rate), the rest fresh
    docs. Returns (ids, texts)."""
    r = rng(seed, 12, index)
    texts = []
    for _ in range(size):
        if r.random() < 0.5:
            src = corpus[int(r.integers(0, len(corpus)))].split(" ")
            rate = r.uniform(0.02, 0.15)
            out = []
            for w in src:
                u = r.random()
                if u < rate / 2:
                    out.append(VOCAB[int(r.integers(0, len(VOCAB)))])
                elif u < rate:
                    continue
                else:
                    out.append(w)
            texts.append(" ".join(out or src))
        else:
            k = int(r.integers(20, 61))
            texts.append(" ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), k)))
    return np.arange(first_id, first_id + size), texts


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

DIM = 64


def embedding_matrix(seed: int, n: int, clusters: int = 12) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm float32 vectors around ``clusters`` random centres."""
    r = rng(seed, 20)
    centres = r.normal(size=(clusters, DIM))
    labels = r.integers(0, clusters, n)
    v = centres[labels] + 0.6 * r.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def query_vectors(seed: int, index: int, base: np.ndarray, size: int) -> np.ndarray:
    """Perturbed copies of random corpus vectors (renormalized)."""
    r = rng(seed, 21, index)
    picks = r.integers(0, len(base), size)
    q = base[picks].astype(np.float64) + 0.25 * r.normal(size=(size, DIM)) / np.sqrt(DIM)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q.astype(np.float32)


# ---------------------------------------------------------------------------
# dirty staging CSV drops
# ---------------------------------------------------------------------------


@dataclass
class Drop:
    """One staging drop on disk plus what the generator injected."""

    path: str
    staged_rows: int          # stg_sales rows written
    dropped_rows: int         # blank invoice/stockcode (deleted before load)
    expected_rejects: int     # product miss | bad date | bad quantity
    expected_fact_rows: int   # rows with a product hit
    bytes: int = 0
    rates: dict = field(default_factory=dict)


def _fmt_ts(dt: datetime, dmy: bool) -> str:
    return dt.strftime("%d/%m/%Y %H:%M:%S" if dmy else "%Y-%m-%d %H:%M:%S")


def _money_text(r: np.random.Generator, v: float) -> str:
    s = f"{v:.2f}"
    u = r.random()
    if u < 0.15:
        return f"${s}"
    if u < 0.25:
        return f" USD {s} "
    return s


def write_drop(
    seed: int, index: int, star: dict[str, pa.Table], rows: int, out_dir: str
) -> Drop:
    """Dirty all-string CSVs (stg_products, stg_sales, stg_date) drawn
    from lineitem ⋈ orders and part. Dirt classes and rates (seeded per
    drop): padded/blank/duplicate stockcodes, currency garbage and
    unparseable prices (median fallback), blank invoices, unmatched
    stockcodes, two timestamp formats plus unparseable ones, quantities
    with garbage characters, negatives and unparseable values, missing
    or zero totals (recomputed)."""
    r = rng(seed, 30, index)
    rates = {
        "blank_invoice": r.uniform(0.005, 0.02),
        "blank_stock": r.uniform(0.002, 0.01),
        "unmatched_stock": r.uniform(0.01, 0.04),
        "bad_date": r.uniform(0.005, 0.02),
        "bad_qty": r.uniform(0.005, 0.02),
        "bad_price": r.uniform(0.02, 0.06),
        "missing_total": r.uniform(0.03, 0.08),
        "bad_product_price": r.uniform(0.01, 0.05),
        "dup_product": r.uniform(0.01, 0.03),
    }
    os.makedirs(out_dir, exist_ok=True)

    part = star["part"].to_pydict()
    np_ = len(part["p_partkey"])
    prod_rows = []
    unparsed_price = r.random(np_) < rates["bad_product_price"]
    for i in range(np_):
        code = str(part["p_partkey"][i])
        if r.random() < 0.2:
            code = f"  {code} "
        desc = part["p_name"][i]
        if r.random() < 0.3:
            desc = desc.upper()
        price = "n/a" if unparsed_price[i] else _money_text(r, part["p_retailprice"][i])
        row = [code, desc, price, CATEGORIES[i % len(CATEGORIES)], part["p_brand"][i].lower()]
        prod_rows.append(row)
        if not unparsed_price[i] and r.random() < rates["dup_product"]:
            prod_rows.append([code.strip(), desc.lower(), price.strip(), row[3], row[4].upper()])
    for _ in range(max(1, int(np_ * 0.005))):
        prod_rows.append(["  ", "orphan", "1.00", CATEGORIES[0], "x"])
    order = r.permutation(len(prod_rows))
    prod_rows = [prod_rows[i] for i in order]

    li = star["lineitem"]
    orders = star["orders"]
    pick = np.sort(r.choice(li.num_rows, size=min(rows, li.num_rows), replace=False))
    lo = li.column("l_orderkey").to_numpy()[pick]
    lpk = li.column("l_partkey").to_numpy()[pick]
    lq = li.column("l_quantity").to_numpy()[pick].astype(int)
    lp = np.array(part["p_retailprice"])[lpk]
    ocust = orders.column("o_custkey").to_numpy()[lo]
    odate = orders.column("o_orderdate").to_numpy()[lo]

    sales_rows = []
    dropped = rejects = fact_rows = 0
    for j in range(len(pick)):
        inv = str(lo[j])
        stock = str(lpk[j])
        blank_inv = r.random() < rates["blank_invoice"]
        blank_stock = r.random() < rates["blank_stock"]
        unmatched = r.random() < rates["unmatched_stock"]
        bad_date = r.random() < rates["bad_date"]
        bad_qty = r.random() < rates["bad_qty"]
        if blank_inv:
            inv = "" if r.random() < 0.5 else "   "
        if blank_stock:
            stock = ""
        elif unmatched:
            stock = f"X{lpk[j]}"
        elif r.random() < 0.1:
            stock = f" {stock}  "
        dt = odate[j].astype("datetime64[s]").astype(datetime) + timedelta(
            seconds=int(r.integers(0, 86400))
        )
        date_s = ("n/a", "31-31-2001", "")[int(r.integers(0, 3))] if bad_date else _fmt_ts(
            dt, r.random() < 0.5
        )
        q = int(lq[j]) * (-1 if r.random() < 0.02 else 1)
        if bad_qty:
            qty_s = ("abc", "", "--")[int(r.integers(0, 3))]
        else:
            u = r.random()
            qty_s = f" {q} " if u < 0.1 else (f"{q}pcs" if u < 0.15 else str(q))
        u = r.random()
        if u < rates["bad_price"]:
            price_s = ("", "n/a", "0", "-1.00")[int(r.integers(0, 4))]
        else:
            price_s = _money_text(r, float(lp[j]))
        total_s = (
            ("", "0", NULL_TOKEN)[int(r.integers(0, 3))]
            if r.random() < rates["missing_total"]
            else f"{q * float(lp[j]):.2f}"
        )
        cust = "" if r.random() < 0.01 else str(ocust[j])
        desc = part["p_name"][lpk[j]]
        sales_rows.append([inv, stock, desc.title() if r.random() < 0.5 else desc,
                           cust, date_s, qty_s, price_s, total_s])
        if blank_inv or blank_stock:
            dropped += 1
            continue
        product_miss = unmatched
        if product_miss or bad_date or bad_qty:
            rejects += 1
        if not product_miss:
            fact_rows += 1

    days = np.unique(odate.astype("datetime64[D]"))
    date_rows = []
    for d in days:
        dt = d.astype("datetime64[s]").astype(datetime)
        if r.random() < 0.01:
            date_rows.append(["bad", "", "", "", ""])
            continue
        date_rows.append([_fmt_ts(dt, r.random() < 0.5), str(dt.year), str(dt.month),
                          str(dt.day), dt.strftime("%A")])

    total_bytes = 0
    for name, cols, data in (
        ("products", PRODUCT_COLS, prod_rows),
        ("sales", SALES_COLS, sales_rows),
        ("date", DATE_COLS, date_rows),
    ):
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(cols)
            w.writerows(data)
        total_bytes += os.path.getsize(path)
    return Drop(
        path=out_dir,
        staged_rows=len(sales_rows),
        dropped_rows=dropped,
        expected_rejects=rejects,
        expected_fact_rows=fact_rows,
        bytes=total_bytes,
        rates=rates,
    )


# ---------------------------------------------------------------------------
# table DML: the sales fact rows and seeded change batches
# ---------------------------------------------------------------------------

DML_COLS = ["sales_key", "customer_key", "product_key", "date_key", "quantity", "amount"]


def dml_base(seed: int, n: int) -> dict[str, np.ndarray]:
    """Sales-fact rows keyed 0..n-1 (the table's initial snapshot)."""
    r = rng(seed, 40)
    return {
        "sales_key": np.arange(n, dtype=np.int64),
        "customer_key": r.integers(0, 1500, n).astype(np.int64),
        "product_key": r.integers(0, 2000, n).astype(np.int64),
        "date_key": (19950101 + r.integers(0, 70000, n)).astype(np.int64),
        "quantity": r.integers(1, 51, n).astype(np.int32),
        "amount": np.round(r.uniform(1.0, 5000.0, n), 2),
    }


def dml_table(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "sales_key": pa.array(cols["sales_key"], pa.int64()),
        "customer_key": pa.array(cols["customer_key"], pa.int64()),
        "product_key": pa.array(cols["product_key"], pa.int64()),
        "date_key": pa.array(cols["date_key"], pa.int64()),
        "quantity": pa.array(cols["quantity"], pa.int32()),
        "amount": pa.array(cols["amount"], pa.float64()),
    })


def write_parquet(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return _write(table, path)
