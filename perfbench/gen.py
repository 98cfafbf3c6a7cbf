"""Input generation for the benchmark.

Two kinds of input:

* The base tables (`make_tables`): the TPC-H-ish star schema plus `events`,
  `documents` and `embeddings`, in the shapes the catalog queries were
  written against (row counts of the sf0.01 testdata; value domains of the
  sf0.1 testdata). They come from a fixed generator seed, so every run of
  every seed times the catalog on the same tables and only the seeded query
  order differs; they are built once per checkout and reused.
* The per-run inputs (`ingest_inputs`, `catalog_order`): drawn from the
  run's `--seed`. The same seed gives the same files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
TABLES_SEED = 20240101

# sf0.01 row counts; documents and embeddings are not scaled below 500.
TABLE_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000,
              "orders": 15_000, "events": 10_000, "documents": 500,
              "embeddings": 500}

# The testdata corpus is a flat unigram draw over 30 words plus a rare
# planted marker word.
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
MARKER, MARKER_P = "dup", 0.001
# Lines per order in the sf0.1 lineitem table, as (lines, orders).
LINES_PER_ORDER = [(1, 11016), (2, 21814), (3, 29500), (4, 29097),
                   (5, 23631), (6, 15625), (7, 8941), (8, 4407), (9, 1959),
                   (10, 818), (11, 292), (12, 93), (13, 29), (14, 10),
                   (15, 1), (16, 2), (17, 1)]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_BASE_US = int((np.datetime64("2024-01-01") - np.datetime64("1970-01-01"))
                     // np.timedelta64(1, "us"))

KAFKA_SCHEMA = pa.schema([
    ("key", pa.string()), ("value", pa.string()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC"))])


def gen_events(rng, n, n_users):
    gaps = rng.exponential(30 * 86400 * US / n, n)
    ts = (EVENTS_BASE_US + np.cumsum(gaps)).astype(np.int64)
    ks = rng.integers(0, 100, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(50, n), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in ks]),
    })


def gen_documents(rng, n):
    words = np.array(VOCAB + [MARKER])
    p = np.full(len(words), (1.0 - MARKER_P) / len(VOCAB))
    p[-1] = MARKER_P
    target = rng.integers(44, 578, n)
    texts = []
    for i in range(n):
        out, length = [], -1
        while length < target[i]:
            w = str(words[rng.choice(len(words), p=p)])
            out.append(w)
            length += len(w) + 1
        texts.append(" ".join(out))
    # ~0.16% exact duplicates and a few one-word near-duplicates, as planted
    # in the testdata corpus
    for i in rng.choice(np.arange(1, n), max(1, int(n * 0.0016)), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(np.arange(1, n), max(1, int(n * 0.0008)), replace=False):
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src)
    langs = np.array(["en", "zh", "fr", "es", "de"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_tables(out):
    """Write the base tables into `out` (deterministic)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(TABLES_SEED)
    r = TABLE_ROWS
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), f"{out}/nation.parquet")
    ck = np.arange(r["customer"], dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    pq.write_table(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, len(ck)), 2),
        "c_mktsegment": segs[rng.integers(0, 5, len(ck))]}), f"{out}/customer.parquet")
    sk = np.arange(r["supplier"], dtype=np.int64)
    pq.write_table(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, len(sk)), 2)}), f"{out}/supplier.parquet")
    pk = np.arange(r["part"], dtype=np.int64)
    adjs = np.array(["large", "hot", "blue", "old", "cold", "small", "red",
                     "green", "new", "dark"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "wheel", "pin", "cap", "rod"])
    types = np.array(["ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL", "MEDIUM"])
    pq.write_table(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 10, len(pk))], " "),
                              nouns[rng.integers(0, 8, len(pk))]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": types[rng.integers(0, 6, len(pk))],
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}), f"{out}/part.parquet")
    day0 = int((np.datetime64("1995-01-01") - np.datetime64("1970-01-01"))
               // np.timedelta64(1, "D"))
    span = int((np.datetime64("2001-08-02") - np.datetime64("1995-01-01"))
               // np.timedelta64(1, "D"))
    ok = np.arange(r["orders"], dtype=np.int64)
    odate = (day0 + rng.integers(0, span, len(ok))) * 86400 * US
    pq.write_table(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, r["customer"], len(ok)),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, len(ok))],
        "o_totalprice": np.round(rng.uniform(1000, 500000, len(ok)), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, len(ok))]}), f"{out}/orders.parquet")
    counts = np.array([c for c, _ in LINES_PER_ORDER])
    probs = np.array([w for _, w in LINES_PER_ORDER], dtype=np.float64)
    lines = rng.choice(counts, size=len(ok), p=probs / probs.sum())
    n_li = int(lines.sum())
    pq.write_table(pa.table({
        "l_orderkey": np.repeat(ok, lines),
        "l_partkey": rng.integers(0, r["part"], n_li),
        "l_suppkey": rng.integers(0, r["supplier"], n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
                         + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 121, n_li) * 86400 * US,
                               pa.timestamp("us"))}), f"{out}/lineitem.parquet")
    pq.write_table(gen_events(rng, r["events"], 150), f"{out}/events.parquet")
    pq.write_table(gen_documents(rng, r["documents"]), f"{out}/documents.parquet")
    m = rng.standard_normal((r["embeddings"], 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(len(m), dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(m.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, len(m)).astype(np.int32)}), f"{out}/embeddings.parquet")
    # the pool the ingest workload draws its records from: sf0.1 volume
    pq.write_table(gen_events(rng, 100_000, 1_500), f"{out}/events_pool.parquet")


def kafka_file(pool, rng, rows, ts_us, path, mtime_s):
    """One Kafka-wire-schema file of `rows` records drawn from `pool`, every
    record stamped `ts_us`; mtime orders the file for the file source."""
    idx = rng.integers(0, pool.num_rows, rows)
    take = pool.take(pa.array(idx))
    pq.write_table(pa.Table.from_arrays([
        take["event_type"], take["props"],
        pa.array(["page_visits"] * rows),
        pa.array((take["user_id"].to_numpy() % 4).astype(np.int32)),
        take["event_id"],
        pa.array(np.full(rows, ts_us, dtype=np.int64), pa.timestamp("us", tz="UTC")),
    ], schema=KAFKA_SCHEMA), path)
    os.utime(path, (mtime_s, mtime_s))


def ingest_inputs(tables, out, seed, plan):
    """Stage the set-up files, the open loop's primer and scheduled files,
    and the drain backlog.

    Event time of open-loop file i is its due offset from a fixed epoch, so
    the inputs depend only on the seed while keeping the due schedule's
    spacing; the primer is one second earlier."""
    rng = np.random.default_rng(seed)
    pool = pq.read_table(f"{tables}/events_pool.parquet")
    files = {}
    for phase, n, rows in (("setup", plan["setup_reps"], plan["open_rows"]),
                           ("primer", 1, plan["open_rows"]),
                           ("open", plan["open_files"], plan["open_rows"]),
                           ("drain", plan["drain_files"], plan["drain_rows"])):
        d = f"{out}/{phase}"
        os.makedirs(d, exist_ok=True)
        names = []
        for i in range(n):
            offset_us = int(i * plan["interval_s"] * US) if phase == "open" else i * US
            name = f"{phase}-{i:05d}.parquet"
            first = -1 if phase == "primer" else 0
            kafka_file(pool, rng, rows, EVENTS_BASE_US + (first * US) + offset_us,
                       f"{d}/{name}", 1_700_000_000 + first + i)
            names.append(name)
        files[phase] = names
    return files


def catalog_order(seed, names):
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(len(names))]


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
