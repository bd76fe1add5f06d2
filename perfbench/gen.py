"""Seeded input generators and independent output checks for the benchmark.

The program under test sees only the parquet files written here. Every
generator is a pure function of its arguments, so one seed always gives the
same inputs. The checks re-derive expected results in numpy, without any of
the program's code.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query stream filter group vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def key_shift(seed):
    """Row-key offset for a seed. Callers scale it by 10, so `key % 10` (the
    geocoding cluster, and with it the hot-cell share) never changes."""
    return (seed * 7919) % 1_000_003


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _texts(rng, n, lo=8, hi=90):
    nwords = rng.integers(lo, hi, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(nwords.sum()))]
    ends = np.cumsum(nwords)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, nwords)]


def documents(path, n, seed, key_offset):
    """The `documents` table: doc_id, text, lang, source, n_chars.
    Every 25th document repeats an earlier one's text with one word changed,
    so near-duplicate detection has pairs to find."""
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n)
    for i in range(25, n, 25):
        w = texts[i - 7].split(" ")
        w[len(w) // 2] = VOCAB[(i // 25) % len(VOCAB)]
        texts[i] = " ".join(w)
    _write(path, {
        "doc_id": pa.array(np.arange(n, dtype=np.int64) + key_offset),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def lineitem_keys(path, n_orders, n_rows, seed, key_offset):
    """The page-key projection of `lineitem`: l_orderkey, l_linenumber,
    distributed as the TPC-H-style lineitem table is (random order, line
    1..7, duplicates possible)."""
    rng = np.random.default_rng([seed, 2])
    ok = rng.integers(0, n_orders, n_rows, dtype=np.int64) + key_offset
    ln = rng.integers(1, 8, n_rows).astype(np.int32)
    # 16 files, so the scan splits across every core
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(n_rows), 16)):
        _write(f"{path}/part-{i:02d}.parquet",
               {"l_orderkey": ok[part], "l_linenumber": ln[part]})
    return ok * 10 + ln


def catalog_tables(d):
    """The ten tables the query catalog reads, TPC-H-style, at sf0.01 (60k
    lineitem rows). Fixed seed: catalog results are recorded once and
    checked by hash."""
    seed = 42
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    n_li, n_ev, n_doc, n_emb = 60000, 10000, 500, 500
    _write(f"{d}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{d}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(f"{d}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "green", "red", "small", "large", "shiny", "old"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(f"{d}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[rng.integers(0, 8)]} {noun[rng.integers(0, 8)]}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day = np.datetime64("1995-01-01", "us")
    us_per_day = 86_400_000_000
    _write(f"{d}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day + rng.integers(0, 2404, n_ord) * us_per_day,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(day + rng.integers(1, 2500, n_li) * us_per_day,
                               pa.timestamp("us"))})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    _write(f"{d}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    documents(f"{d}/documents.parquet", n_doc, seed, 0)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    v = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{d}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


# ------------------------------------------------------------------ checks

def geocode(key):
    """lon/lat of a page key: the documented hash geocoding (see the
    program's pages module), recomputed independently in int64 numpy."""
    key = np.asarray(key, dtype=np.int64)
    h1 = (key * 48271 + 11) % 2147483647
    h2 = (h1 * 48271 + 17) % 2147483647
    cl = key % 10
    wrap = 179500 + h1 % 1000
    lonm = np.where(cl == 0, 12000 + h1 % 1000,
                    np.where(cl == 1, np.where(wrap >= 180000, wrap - 360000, wrap),
                             h1 % 360000 - 180000))
    latm = np.where(cl == 0, 51000 + h2 % 1000,
                    np.where(cl == 1, -70000 - h2 % 1000, h2 % 170000 - 85000))
    return lonm / 1000.0, latm / 1000.0


def tile_boxes():
    """The rectangular shelf tiles: a 24x12 grid of 15-degree boxes minus
    every 37th, plus two overlapping boxes over the hot cell."""
    names, boxes = [], []
    for t in range(288):
        if t % 37 == 0:
            continue
        x0, y0 = -180.0 + (t % 24) * 15.0, -90.0 + (t // 24) * 15.0
        names.append(f"T{t}")
        boxes.append((x0, y0, x0 + 15.0, y0 + 15.0))
    names += ["HOT_A", "HOT_B"]
    boxes += [(10.0, 50.0, 14.0, 53.0), (11.0, 50.5, 13.5, 52.5)]
    return names, np.array(boxes)


def shelve_expected(keys):
    """Exactly-one rule over closed boxes: per-tile counts of shelved pages
    and the two skip counts."""
    lon, lat = geocode(keys)
    names, b = tile_boxes()
    hits = np.zeros(len(lon), dtype=np.int32)
    first = np.full(len(lon), -1, dtype=np.int32)
    for i, (x0, y0, x1, y1) in enumerate(b):
        m = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        first = np.where(m & (hits == 0), i, first)
        hits += m
    one = hits == 1
    counts = np.bincount(first[one], minlength=len(names))
    per_tile = {names[i]: int(c) for i, c in enumerate(counts) if c}
    return per_tile, int((hits == 0).sum()), int((hits > 1).sum())


def coverage_expected(keys, step=10):
    """Number of (supertile, quartertile) cells that hold at least one page:
    the row count of the committed coverage stats."""
    lon, lat = geocode(keys)
    r, c = np.floor(lat / step), np.floor(lon / step)
    i = np.floor((lat / step - r) * 2)
    j = np.floor((lon / step - c) * 2)
    return len(set(zip(r.tolist(), c.tolist(), i.tolist(), j.tolist())))
