"""Seeded synthetic fixture tables in the layout graft's Catalog reads.

One parquet file per table (`<dir>/<table>.parquet`), with the schemas
of the repository's fixture corpus (TPC-H-style star schema, `events`,
`documents`, `embeddings`). Row counts scale with `sf` the same way:
sf0.1 gives 600k lineitem rows, 100k events, 5k documents and 2k
embeddings. The same (seed, sf) always writes the same bytes' worth of
rows; nothing here reads any file.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "large", "small", "green", "dark", "pale"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "plate", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
VOCAB = ("a the data spark query table row column scan filter join group agg "
         "sort hash key value window stream batch merge index vector line "
         "part order customer small big fast slow plan cost shard node disk "
         "cache page block task stage job").split()

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000
EMB_DIM = 64

def _ms(base, days):
    """Whole days after `base` as a numpy datetime64[ms] array."""
    return (np.datetime64(base, "ms") + days.astype("timedelta64[D]")).astype("datetime64[ms]")


def _write(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def tpch(rng, sf):
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    out = {}
    out["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}
    out["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist()}
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 20001) / 10.0, 2)}
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    out["orders"] = {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, n_ord, p=[.49, .49, .02])].tolist(),
        "o_totalprice": np.round(rng.uniform(850.0, 480_000.0, n_ord), 2),
        "o_orderdate": _ms(ORDER_START, odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist()}
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_pk = rng.integers(0, n_part, n_li).astype(np.int64)
    price = 900.0 + (l_pk % 20001) / 10.0
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    out["lineitem"] = {
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ms(ORDER_START, ship)}
    return out


def events_columns(rng, n, start_us, span_us, first_id=0, n_users=1500):
    """`n` time-ordered events spread over [start_us, start_us + span_us)."""
    ts = np.sort(rng.integers(0, span_us, n)) + start_us   # µs after EVENT_START
    # skewed user activity: a few heavy users, a long tail
    users = np.minimum(rng.zipf(1.3, n) - 1, n_users - 1).astype(np.int64)
    users = (users * 7919) % n_users
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": users,
        "event_type": np.array(EVENT_TYPES)[rng.choice(5, n, p=[.35, .05, .1, .05, .45])].tolist(),
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def documents(rng, n):
    """Word-soup documents with planted exact (case/space variants) and
    near duplicates, so both dedup paths have work."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:       # exact duplicate up to case/edge space
            src = texts[int(rng.integers(0, i))]
            texts.append(("  " + src.upper()) if rng.random() < 0.5 else src)
        elif i > 10 and r < 0.25:     # near duplicate: a few tokens changed
            toks = texts[int(rng.integers(0, i))].strip().lower().split()
            for _ in range(max(1, len(toks) // 25)):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
        else:
            m = int(rng.integers(12, 90))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), m)]))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=[.4, .15, .15, .15, .15])].tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n):
    """Label-clustered unit-ish float vectors (dim 64, 10 labels)."""
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (n, EMB_DIM))).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}


GROUPS = {"region": "tpch", "nation": "tpch", "customer": "tpch", "supplier": "tpch",
          "part": "tpch", "orders": "tpch", "lineitem": "tpch", "events": "events",
          "documents": "documents", "embeddings": "embeddings"}


def write_tables(out_dir, seed, sf, tables):
    """Write the named tables for (seed, sf) under out_dir; returns their
    row counts. Each table group draws from its own random stream, so a
    table's rows do not depend on which other tables are written."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    groups = sorted({GROUPS[t] for t in tables})
    cols = {}
    for g in groups:
        rng = np.random.default_rng([seed, int(sf * 1_000_000), ["tpch", "events", "documents", "embeddings"].index(g)])
        if g == "tpch":
            cols.update(tpch(rng, sf))
        elif g == "events":
            ev = events_columns(rng, max(int(1_000_000 * sf), 200), 0, EVENT_SPAN_US)
            ev["ts"] = np.datetime64(EVENT_START, "us") + ev["ts"].astype("timedelta64[us]")
            cols["events"] = ev
        elif g == "documents":
            cols["documents"] = documents(rng, max(int(50_000 * sf), 200))
        else:
            cols["embeddings"] = embeddings(rng, max(int(20_000 * sf), 200))
    for t in tables:
        _write(f"{out_dir}/{t}.parquet", cols[t])
    return {t: len(next(iter(cols[t].values()))) for t in tables}
