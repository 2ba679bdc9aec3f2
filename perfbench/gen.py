"""Seeded input corpus for the benchmark.

Writes the ten graft tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as single-row-group
parquet files with the schemas `graft.etl.Tables` freezes, plus the
`maintain` workload's tick files. The same (seed, sf) always gives the
same rows: every value comes from one numpy Generator.

The value distributions follow the synthetic TPC-H-like tables the graft
registry is oracle-checked on (uniform keys, two-decimal money, a
30-word document vocabulary, unit-norm 64-d embeddings). `documents` is
extended by near-duplicate edits of a fixed share of its docs, so the
dedup steps of the `curate` workload find real clusters.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
PART_ADJ = "large hot blue old cold small red green".split()
PART_NOUN = "ring bolt plate gear widget nut pipe valve".split()
NEAR_DUP_SHARE = 0.10
# an average tick holds this share of `events`
TICK_SHARE = 1 / 40


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end] (inclusive days)."""
    span = (end - start).days + 1
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n) * np.timedelta64(86400_000_000, "us")


def _write(path, cols):
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _names(fmt, n):
    return [fmt % i for i in range(n)]


def generate(out, seed, sf, pairs):
    """Write the corpus for `seed` at scale `sf` into directory `out`,
    with the tick files for `pairs` timed tick pairs (none if 0)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i64 = pa.int64()
    i32 = pa.int32()
    f64 = pa.float64()
    ts = pa.timestamp("us")

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array(_names("NATION_%d", 25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(_names("Customer#%09d", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(_names("Supplier#%09d", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2), f64)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})

    # 1-7 lines per order, unique (orderkey, linenumber), rows shuffled
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    lnum = np.arange(len(okey)) - starts + 1
    n_li = len(okey)
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(okey[perm], i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lnum[perm], i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4), n_li), ts)})

    # events: ts-ordered ids over 2024-01-01..30; a few hot users so the
    # heavy-hitters sink has keys above its n/(k+1) threshold
    n_users = max(10, n_cust // 10)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = t0 + np.sort(rng.integers(0, 30 * 86400_000_000, n_ev)) \
        .astype("timedelta64[us]")
    users = rng.integers(0, n_users, n_ev)
    hot = rng.random(n_ev) < 0.08
    users[hot] = rng.integers(0, 8, hot.sum())
    events = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(users, i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])}
    _write(f"{out}/events.parquet", events)

    # documents: base docs plus near-duplicate edits of a fixed share
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    n_dup = int(n_doc * NEAR_DUP_SHARE)
    for src in rng.choice(n_doc, n_dup, replace=False):
        words = texts[src].split(" ")
        for pos in rng.integers(0, len(words), 1 + len(words) // 25):
            words[pos] = WORDS[rng.integers(0, len(WORDS))]
        texts.append(" ".join(words) + " dup")
    n_all = len(texts)
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_all), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS[0], n_all, p=LANGS[1])),
        "source": pa.array([f"src{i % 20}" for i in range(n_all)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})

    # maintain ticks: every event row lands in exactly one tick file, and
    # rows within a tick are not in ts order. tick 0 is the backlog (every
    # row the later ticks do not take), tick 1 an average tick; both are
    # committed in the untimed warm-up. Then come `pairs` pairs of uneven
    # size; the two ticks of a pair together always hold two average
    # ticks' worth of rows, so every run commits the same row count.
    if pairs:
        tdir = f"{out}/ticks"
        os.makedirs(tdir, exist_ok=True)
        avg = int(n_ev * TICK_SHARE)
        first = np.round(rng.uniform(0.4, 1.6, pairs) * avg).astype(int)
        sizes = [avg] + np.column_stack([first, 2 * avg - first]).ravel().tolist()
        sizes = [n_ev - sum(sizes)] + sizes
        order = rng.permutation(n_ev)
        bounds = np.cumsum([0] + sizes)
        ev = pa.table(events)
        manifest = []
        for t, n in enumerate(sizes):
            name = f"tick_{t:03d}.parquet"
            pq.write_table(ev.take(order[bounds[t]:bounds[t + 1]]),
                           f"{tdir}/{name}")
            manifest.append(f"{name}\t{n}\n")
        with open(f"{tdir}/manifest.tsv", "w") as f:
            f.writelines(manifest)
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "documents": n_all, "embeddings": n_emb}
