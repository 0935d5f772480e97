"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes plain files
(CSV or parquet) into a work directory; the program under test only
ever sees those files. The same seed always gives byte-identical
inputs.
"""
import os
import uuid
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def _uuids(rng, n):
    """n distinct UUID strings drawn from the seeded generator."""
    raw = rng.bytes(16 * n)
    return [str(uuid.UUID(bytes=raw[i * 16:(i + 1) * 16])) for i in range(n)]


# ── medallion_batch: raw order-lifecycle CSV (FIXTURES.md §1) ─────────

STAGES = ["order_created", "order_paid", "order_shipped", "order_delivered"]
CITIES = [("sao paulo", "SP"), ("rio de janeiro", "RJ"),
          ("belo horizonte", "MG"), ("curitiba", "PR"),
          ("porto alegre", "RS"), ("salvador", "BA"), ("recife", "PE"),
          ("fortaleza", "CE"), ("brasilia", "DF"), ("manaus", "AM")]
FIRST = ["ana", "bruno", "carla", "diego", "elisa", "felipe", "gabriela",
         "hugo", "isabel", "joao", "karina", "lucas", "marina", "nuno"]
LAST = ["silva", "santos", "oliveira", "souza", "lima", "pereira",
        "costa", "almeida", "ferreira", "rodrigues"]
# Silver.defaultFormats after the reference's native µs '… UTC' text,
# as strftime patterns; the first is the reference's own raw format.
TS_FORMATS = ["%Y-%m-%d %H:%M:%S.%f UTC", "%Y-%m-%d %H:%M:%S",
              "%Y-%m-%dT%H:%M:%S", "%d-%m-%Y %H:%M", "%Y/%m/%d %H:%M:%S",
              "%Y-%m-%d"]
UNPARSEABLE = ["not a date", "2025-13-45 99:99:99", "yesterday", "??"]
HEADER = ["event_id", "order_id", "customer_id", "event_type",
          "event_timestamp", "customer_name", "customer_email",
          "customer_city", "customer_state", "payment_value",
          "lifecycle_step"]


def lifecycle_csv(path, seed, n_orders, dup_frac=0.02, alt_fmt_frac=0.25,
                  bad_ts_frac=0.01):
    """Raw lifecycle events with Silver's quirks: exact-duplicate rows,
    NULL payment_value except on order_paid rows, the µs '… UTC' text
    mixed with the other accepted formats, and a small unparseable
    share. Orders progress 1-4 stages. Returns the row count."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, n_orders // 3)
    cust_ids = _uuids(rng, n_cust)
    order_ids = _uuids(rng, n_orders)
    steps = rng.choice([1, 2, 3, 4], size=n_orders, p=[.1, .15, .25, .5])
    n_events = int(steps.sum())
    event_ids = _uuids(rng, n_events)
    cust_of = rng.integers(0, n_cust, size=n_orders)
    city_of = rng.integers(0, len(CITIES), size=n_cust)
    fn = rng.integers(0, len(FIRST), size=n_cust)
    ln = rng.integers(0, len(LAST), size=n_cust)
    t0 = datetime(2025, 10, 1, tzinfo=timezone.utc)
    start_us = rng.integers(0, 30 * DAY_US, size=n_orders)
    gaps = rng.integers(60_000_000, 2 * DAY_US, size=(n_orders, 4))
    price = np.round(rng.uniform(5, 900, size=n_orders), 2)
    fmt_draw = rng.random(n_events)
    fmt_pick = rng.integers(1, len(TS_FORMATS), size=n_events)
    bad_pick = rng.integers(0, len(UNPARSEABLE), size=n_events)
    rows = []
    e = 0
    for o in range(n_orders):
        c = cust_of[o]
        name = f"{FIRST[fn[c]]} {LAST[ln[c]]}"
        email = f"{FIRST[fn[c]]}.{LAST[ln[c]]}{c}@example.com"
        city, state = CITIES[city_of[c]]
        t = start_us[o]
        for s in range(steps[o]):
            t += gaps[o, s]
            ts = t0 + timedelta(microseconds=int(t))
            if fmt_draw[e] < bad_ts_frac:
                ts_txt = UNPARSEABLE[bad_pick[e]]
            elif fmt_draw[e] < bad_ts_frac + alt_fmt_frac:
                ts_txt = ts.strftime(TS_FORMATS[fmt_pick[e]])
            else:
                ts_txt = ts.strftime(TS_FORMATS[0])
            pay = f"{price[o]:.2f}" if s == 1 else ""
            rows.append(",".join([
                event_ids[e], order_ids[o], cust_ids[c], STAGES[s], ts_txt,
                name, email, city, state, pay, str(s + 1)]))
            e += 1
    n_dup = int(len(rows) * dup_frac)
    dup_idx = rng.choice(len(rows), size=n_dup, replace=False)
    rows.extend(rows[i] for i in dup_idx)
    order = rng.permutation(len(rows))
    with open(path, "w") as f:
        f.write(",".join(HEADER) + "\n")
        for i in order:
            f.write(rows[i] + "\n")
    return len(rows)


# ── event_stream: order-lifecycle CDC files (StreamingScd2.CdcRow) ───

CDC_SCHEMA = pa.schema([
    ("key", pa.int64()), ("status", pa.string()), ("price", pa.float64()),
    ("priority", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CDC_STATUS = ["created", "paid", "shipped", "delivered"]


def cdc_files(out_dir, seed, n_files, rows_per_file, key_base=0,
              repeat_frac=0.1):
    """n_files parquet files of CDC rows in event-time order: every key
    walks created → paid → shipped → delivered with some unchanged-status
    repeats interleaved, so each key's rows in a later file carry later
    timestamps. Returns the file paths in landing order."""
    rng = np.random.default_rng([seed, 2, key_base])
    total = n_files * rows_per_file
    # each key emits 4 status rows plus its repeats; draw enough keys
    n_keys = int(total / (4 * (1 + repeat_frac))) + 1
    reps = rng.random((n_keys, 4)) < repeat_frac
    kprice = np.round(rng.uniform(10, 500, size=n_keys), 2)
    kprio = rng.integers(0, len(PRIORITIES), size=n_keys)
    # per-key event times: start spread over the stream window, the
    # key's j-th row 10 minutes after its (j-1)-th, so sorting all rows
    # by time keeps every key's own order
    start = rng.integers(0, 3_600_000_000, size=n_keys)
    keys, status, price, prio, j = [], [], [], [], []
    for k in range(n_keys):
        n = 0
        for s in range(4):
            for _ in range(2 if reps[k, s] else 1):
                keys.append(key_base + k)
                status.append(s)
                price.append(kprice[k])
                prio.append(kprio[k])
                j.append(n)
                n += 1
    keys = np.array(keys, dtype=np.int64)
    kidx = keys - key_base
    ts = (start[kidx] + np.array(j, dtype=np.int64) * 600_000_000
          + rng.integers(0, 500_000_000, size=len(keys)))
    order = np.argsort(ts, kind="stable")[:total]
    base = int(datetime(2025, 11, 1, tzinfo=timezone.utc).timestamp()) * 10**6
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        sel = order[f * rows_per_file:(f + 1) * rows_per_file]
        tbl = pa.table({
            "key": keys[sel],
            "status": [CDC_STATUS[status[i]] for i in sel],
            "price": [price[i] for i in sel],
            "priority": [PRIORITIES[prio[i]] for i in sel],
            "ts": pa.array(base + ts[sel], type=pa.timestamp("us", tz="UTC")),
        }, schema=CDC_SCHEMA)
        p = os.path.join(out_dir, f"cdc-{key_base}-{f:05d}.parquet")
        pq.write_table(tbl, p)
        paths.append(p)
    return paths


# ── corpus_curation: documents + ScaleGen-style disjoint copies ──────

VOCAB = ["a", "the", "data", "spark", "stream", "batch", "query", "join",
         "sort", "hash", "scan", "filter", "group", "agg", "window", "row",
         "column", "table", "key", "value", "order", "line", "part",
         "customer", "merge", "vector", "fast", "slow", "big", "small",
         "index"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
OFF_DOC = 10_500_000  # ScaleGen's OffDoc: divisible by 2100


def documents(path, seed, n_base, copies, near_dup_frac=0.03):
    """A seeded base corpus (the fixture's shape: word-salad text over a
    small vocabulary, lang/source metadata) plus `copies - 1` disjoint
    replicas built by ScaleGen's construction contract: doc_id offsets
    by copy × 10,500,000 and copy c > 0 suffixes every token with
    '_c<c>', so copies share no shingles and near-dup structure
    replicates instead of exploding across copies."""
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(8, 90, size=n_base)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[off:off + n]))
        off += n
    # near-duplicates: copy an earlier doc and swap one token
    nd = rng.choice(np.arange(1, n_base), size=int(n_base * near_dup_frac),
                    replace=False)
    for i in nd:
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src)
    lang = rng.choice(LANGS, size=n_base, p=LANG_P)
    ids, out_text, out_lang, out_src = [], [], [], []
    for c in range(copies):
        for i in range(n_base):
            ids.append(i + c * OFF_DOC)
            t = texts[i] if c == 0 else " ".join(
                w + f"_c{c}" for w in texts[i].split(" "))
            out_text.append(t)
            out_lang.append(str(lang[i]))
            out_src.append(f"src{i % 20}")
    tbl = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": out_text, "lang": out_lang, "source": out_src,
        "n_chars": pa.array([len(t) for t in out_text], type=pa.int64())})
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "documents.parquet"))
    return len(ids)


# ── dashboard_mix: TPC-H-ish star schema + events, and query draws ───

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
NOUN = ["ring", "bolt", "gear", "pipe", "nut", "screw", "valve", "spring"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
OSTATUS = ["O", "F", "P"]
OPRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["view", "click", "signup", "purchase", "error"]


def _write(path, name, cols):
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _day_ts(days_since, start):
    base = int(datetime(*start, tzinfo=timezone.utc).timestamp()) * 10**6
    return pa.array(base + days_since.astype(np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def star_schema(path, seed, n_orders):
    """The testdata star schema (region nation customer supplier part
    orders lineitem events) at `n_orders` orders, same column names,
    types and value shapes as the fixture the queries were built on."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(path, exist_ok=True)
    n_cust, n_supp = max(10, n_orders // 10), max(5, n_orders // 150)
    n_part, n_users = max(10, n_orders * 2 // 15), max(10, n_orders // 10)
    n_events = n_orders * 2 // 3
    _write(path, "region", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS})
    _write(path, "nation", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    _write(path, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(path, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    _write(path, "part", {
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), type=pa.int64()),
        "o_orderstatus": rng.choice(OSTATUS, n_orders),
        "o_totalprice": np.round(rng.uniform(900, 450000, n_orders), 2),
        "o_orderdate": _day_ts(odays, (1995, 1, 1)),
        "o_orderpriority": rng.choice(OPRIO, n_orders)})
    lines = rng.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders), lines)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    _write(path, "lineitem", {
        "l_orderkey": pa.array(lok, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(lnum, type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _day_ts(odays[lok] + rng.integers(1, 122, n_li),
                              (1995, 1, 1))})
    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 10**6
    ets = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    _write(path, "events", {
        "event_id": pa.array(np.arange(n_events), type=pa.int64()),
        "ts": pa.array(base + ets, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), type=pa.int64()),
        "event_type": rng.choice(ETYPES, n_events),
        "value": np.round(rng.uniform(0, 500, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return n_li


def query_sequences(seed, names, n_clients, cycles):
    """Each dashboard client's query sequence, drawn from the seed: a
    run of cycles, each a seeded permutation of all the queries, so every
    query runs equally often and only the order depends on the seed."""
    rng = np.random.default_rng([seed, 5])
    return [[names[i] for _ in range(cycles) for i in rng.permutation(len(names))]
            for _ in range(n_clients)]
