"""Seeded input generators for the benchmark.

Two kinds of input, each a pure function of its seed (same seed, same
bytes):

* gate tables: the ten parquet tables the gate queries read (TPC-H-ish
  star schema plus events, documents and embeddings), with the column
  types and value domains of the engine's test data;
* energy blobs: household-energy CSV files in the reference layout
  (FIXTURES.md section 1), including a fixed share of rows the ingest
  must reject.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- gate

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["red", "blue", "green", "small", "large"], \
    ["widget", "bolt", "ring", "anvil", "gear", "nut", "spring", "valve",
     "clamp", "hinge", "lever", "pipe", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype("int64") * np.timedelta64(1, "D"),
                    pa.timestamp("us"))


def gate_tables(seed: int, sf: float, out: str) -> None:
    """Write region .. embeddings at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_evt, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    n_emb = max(200, int(20_000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_WORDS[0])[rng.integers(0, 5, n_part)]
    noun = np.array(PART_WORDS[1])[rng.integers(0, 13, n_part)]
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    # lineitem: 4 lines per order on average, placed on random orders
    n_li = 4 * n_ord
    lok = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    first = np.r_[True, lok[1:] != lok[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenum = (np.arange(n_li) - starts) % 7 + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odays[lok] + rng.integers(1, 95, n_li))}),
        f"{out}/lineitem.parquet")
    # events: one month, sorted timestamps with microsecond jitter
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    _write(pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 560.0), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")}),
        f"{out}/events.parquet")
    # documents: 5% are an earlier document plus " dup" (near-duplicates)
    lens = rng.integers(8, 101, n_doc)
    wid = rng.integers(0, len(WORDS), int(lens.sum()))
    bounds = np.r_[0, np.cumsum(lens)]
    texts = [" ".join(WORDS[w] for w in wid[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    dup_of = rng.integers(0, n_doc, n_doc)
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if dup_of[i] < i:
            texts[i] = texts[dup_of[i]] + " dup"
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    # embeddings: 64-d unit vectors around 10 label centroids
    cent = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    v = cent[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32)}),
        f"{out}/embeddings.parquet")


# -------------------------------------------------------------- energy

HEADER = ("Home ID,Appliance Type,Energy Consumption (kWh),Time,Date,"
          "Outdoor Temperature (?C),Season,Household Size")
APPLIANCES = ["Oven", "Dishwasher", "Heater", "Lights", "TV", "Washing Machine",
              "Air Conditioning", "Computer", "Fridge", "Microwave"]
N_HOMES, N_DAYS = 500, 181  # 01-01-2023 .. 30-06-2023
DAY0 = dt.date(2023, 1, 1)
DATES = [(DAY0 + dt.timedelta(d)).strftime("%d-%m-%Y") for d in range(N_DAYS)]
SEASONS = ["Winter" if (DAY0 + dt.timedelta(d)).month <= 2 else "Spring"
           for d in range(N_DAYS)]
BAD_SHARE = 0.01  # each third: empty HomeID, non-numeric kWh, empty ApplianceType


def energy_blobs(seed: int, n_blobs: int, rows: int, out: str,
                 write=None) -> list:
    """Write blob_000.csv .. into `out` (only the indices in `write`, if
    given); returns their paths.

    Valid rows are unique on (home, appliance, date, kWh) across all
    blobs of one seed, so the ingest's content-derived `id` never
    collides and a re-delivered blob merges without changing the row
    count.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = n_blobs * rows
    home = rng.integers(0, N_HOMES, n)
    app = rng.integers(0, 10, n)
    day = rng.integers(0, N_DAYS, n)
    cents = rng.integers(10, 501, n)  # kWh in [0.10, 5.00]
    while True:
        key = ((home * 10 + app) * N_DAYS + day) * 501 + cents
        _, first = np.unique(key, return_index=True)
        dup = np.ones(n, bool)
        dup[first] = False
        if not dup.any():
            break
        cents[dup] = rng.integers(10, 501, int(dup.sum()))
    size = np.random.default_rng([seed, 3]).integers(1, 6, N_HOMES)
    minute = rng.integers(0, 24 * 60, n)
    temp = rng.integers(-100, 401, n)
    bad = rng.random(n) < BAD_SHARE
    bad_kind = rng.integers(0, 3, n)
    home, app, day, cents = home.tolist(), app.tolist(), day.tolist(), cents.tolist()
    minute, temp, bad, bad_kind = minute.tolist(), temp.tolist(), bad.tolist(), bad_kind.tolist()
    size = size.tolist()
    paths = []
    for b in range(n_blobs) if write is None else write:
        lines = [HEADER]
        for i in range(b * rows, (b + 1) * rows):
            h, a, k = str(home[i] + 1), APPLIANCES[app[i]], f"{cents[i] / 100:.2f}"
            if bad[i]:
                if bad_kind[i] == 0:
                    h = ""
                elif bad_kind[i] == 1:
                    k = "n/a"
                else:
                    a = ""
            lines.append(f"{h},{a},{k},{minute[i] // 60}:{minute[i] % 60:02d},"
                         f"{DATES[day[i]]},{temp[i] / 10:.1f},{SEASONS[day[i]]},"
                         f"{size[home[i]]}")
        path = f"{out}/blob_{b:03d}.csv"
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
