"""Inputs the benchmark feeds the program, generated before any timing.

Two generators:

* ``write_tables`` builds the TPC-H-ish fixture (the ten ``graft.Tables``
  parquet files) at a given scale factor. Schemas, key ranges, value
  distributions and the ~5% " dup" near-duplicate documents follow the
  fixture family FIXTURES.md section B describes, so the queries see the
  shapes they were written for.
* ``write_listings`` builds a corpus of listing-card HTML pages (one file
  per day, ``yyyy-MM-dd.html``) and returns its ground truth. It carries the
  extraction corners the reference's selectors must survive: three quote
  styles, the ``listing-card__content-extra`` decoy, multi-token class
  attributes, missing fields, and a bathrooms element without content.

Both are deterministic in their seed and size.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    """n uniform whole days in [start, end], as timestamp[us] values."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def write_tables(dir_, sf, seed):
    """Write the ten fixture tables for scale factor ``sf`` into ``dir_``."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(SEGMENTS).take(rng.integers(0, 5, n_cust))})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names).take(rng.integers(0, len(names), n_part)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(PART_TYPES).take(rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, n_ord))})
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, n_line)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_line)),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    month_us = 30 * 86400 * 10**6
    ts = (np.arange(n_ev) * (month_us // n_ev)
          + rng.integers(0, month_us // n_ev, n_ev))
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):  # near-duplicate copies
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": pa.array(LANGS).take(rng.choice(5, n_doc, p=[.44, .14, .14, .14, .14])),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(scale=64 ** -0.5, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def _attr(rng, name, value):
    """An HTML attribute in one of the three legal quote styles."""
    style = rng.integers(0, 3)
    if style == 0:
        return f'{name}="{value}"'
    if style == 1:
        return f"{name}='{value}'"
    return f"{name}={value}"


def write_listings(dir_, n_days, cards_per_day, seed):
    """Write ``n_days`` listing pages into ``dir_``; return the ground truth
    the pipeline's outputs are checked against."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    truth = {"listings": 0, "price_sum": 0, "null": dict.fromkeys(
        ["Barrio", "Valor", "NumHabitaciones", "NumBanos", "mts2"], 0),
        "dates": []}
    day0 = dt.date(2024, 3, 1)
    for d in range(n_days):
        date = (day0 + dt.timedelta(days=d)).isoformat()
        cards = []
        for _ in range(cards_per_day):
            cls = ("card featured listing-card__content" if rng.random() < 0.2
                   else "listing-card__content")
            parts = [f'<div class="{cls}">',
                     '<div class="listing-card__content-extra">decoy</div>']
            if rng.random() < 0.95:
                parts.append(f'<div class="listing-card__location__geo"> '
                             f'Barrio {rng.integers(0, 40)}, Bogota </div>')
            else:
                truth["null"]["Barrio"] += 1
            if rng.random() < 0.97:
                price = int(rng.integers(80, 3000)) * 1_000_000
                dotted = f"{price:,}".replace(",", ".")
                parts.append(f'<span class="price__actual">$ {dotted}</span>')
                truth["price_sum"] += price
            else:
                truth["null"]["Valor"] += 1
            parts.append(f'<p data-test="bedrooms" '
                         f'{_attr(rng, "content", rng.integers(1, 6))}></p>')
            r = rng.random()
            if r < 0.10:    # bathrooms element absent
                truth["null"]["NumBanos"] += 1
            elif r < 0.15:  # bathrooms element present, content attr missing
                parts.append('<p data-test="bathrooms"></p>')
                truth["null"]["NumBanos"] += 1
            else:
                parts.append(f'<p data-test="bathrooms" '
                             f'{_attr(rng, "content", rng.integers(1, 4))}></p>')
            if rng.random() < 0.9:
                parts.append(f'<p data-test="floor-area" '
                             f'{_attr(rng, "content", rng.integers(30, 300))}></p>')
            else:
                truth["null"]["mts2"] += 1
            parts.append("</div>")
            cards.append("".join(parts))
        with open(os.path.join(dir_, f"{date}.html"), "w") as f:
            f.write("<html><body>\n" + "\n".join(cards) + "\n</body></html>\n")
        truth["listings"] += cards_per_day
        truth["dates"].append(date)
    return truth
