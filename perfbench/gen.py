"""Seeded input generator for the benchmark.

Every workload input is made here from the workload seed, so the engine
only ever sees generated files and the same seed gives byte-identical
files (checked through `input_digest`). The tables follow the layout of
the repository's test data (TPC-H-like star schema plus `events`,
`documents` and `embeddings`): same column names, types and value
distributions, independent uniform draws per column.

Timestamps are written as the test data files carry them: TIMESTAMP(MICROS)
with isAdjustedToUTC=false. `graft.core.Tables.events` also accepts
TIMESTAMP(NANOS) (read as longs and divided down); no test data file in
use has that type, so no workload reads it.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sized like the sf0.01 test data (whose `documents` and `embeddings`
# do not scale with sf below 0.1).
SF = 0.01
N_DOCS = 500
N_EMB = 500
N_CORPUS_BASE = 2500

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

# Per-copy character bijection of the corpus replicas: four disjoint
# alphabets, each under a Lehmer-unranked full permutation with a stride
# coprime to the set's factorial period (ScaleStress / StressGen.perm in
# the engine, where the reasons for each choice are recorded). Copy 0 is
# the identity.
ALPHABETS = ["etaoinsrh", "dlcumwfgy", "bpvkx", "qjz"]
STRIDES = {9: 224261, 5: 77, 3: 5}
SECOND_NINE_STRIDE = 139849


def perm(chars, c, second=False):
    stride = SECOND_NINE_STRIDE if second and len(chars) == 9 else STRIDES[len(chars)]
    period = 1
    for i in range(2, len(chars) + 1):
        period *= i
    k = (c * stride) % period
    pool = list(chars)
    out = []
    f = period // len(chars)
    m = len(chars)
    while m > 1:
        out.append(pool.pop(k // f))
        k %= f
        m -= 1
        f //= m
    out.append(pool.pop(0))
    return "".join(out)


def copy_table(c):
    src = "".join(ALPHABETS)
    dst = "".join(perm(a, c, second=(i == 1)) for i, a in enumerate(ALPHABETS))
    return str.maketrans(src, dst)


def _ts(arr_us):
    return pa.array(arr_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents_text(rng, n):
    """`n` documents of 10-100 vocabulary words; 5% are a copy of an
    earlier document plus the word `dup` (planted near-duplicates) and
    ~0.2% exact copies, as in the test data. Returns the texts and, per
    document, the index of the document it copies (-1 for none)."""
    words = np.array(VOCAB)
    texts, parents = [], []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.052:
            src = int(rng.integers(0, i))
            texts.append(texts[src] + (" dup" if kind[i] < 0.05 else ""))
            parents.append(src)
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
            parents.append(-1)
    return texts, parents


def write_documents(out_dir, rng, n):
    texts, _ = documents_text(rng, n)
    ids = np.arange(n, dtype=np.int64)
    _write(out_dir, "documents", {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events_columns(rng, n, n_users):
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_events(out_dir, rng, n, n_users):
    c = events_columns(rng, n, n_users)
    _write(out_dir, "events", {
        "event_id": pa.array(c["event_id"]), "ts": _ts(c["ts"]),
        "user_id": pa.array(c["user_id"]), "event_type": pa.array(c["event_type"].tolist()),
        "value": pa.array(c["value"]), "props": pa.array(c["props"].tolist()),
    })


def catalog_tables(out_dir, rng):
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + (order_days * US_PER_DAY).astype("timedelta64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist())})
    ship_days = rng.integers(1, 2499, n_line)  # 1995-01-02 .. 2001-11-04
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": _ts(EPOCH_1995 + (ship_days * US_PER_DAY).astype("timedelta64[us]"))})
    write_events(out_dir, rng, n_ev, int(15_000 * SF))
    write_documents(out_dir, rng, N_DOCS)
    emb = rng.standard_normal((N_EMB, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB).astype(np.int32))})


def corpus_tables(out_dir, rng, copies, bench_docs):
    """Base documents replicated `copies` times under per-copy character
    bijections, so copies plant no cross-copy near-duplicates; plus a
    seeded slice of the corpus as the evaluation benchmark. Returns what
    the output check needs besides the files: the documents (`ids`,
    `texts`), the planted copy relation (`parents`, a corpus doc id or
    -1) and the benchmark texts."""
    base, base_parents = documents_text(rng, N_CORPUS_BASE)
    texts, ids, parents = [], [], []
    for c in range(copies):
        tr = copy_table(c)
        texts.extend(t.translate(tr) for t in base)
        ids.extend(range(c * 1_000_000, c * 1_000_000 + N_CORPUS_BASE))
        parents.extend(c * 1_000_000 + p if p >= 0 else -1 for p in base_parents)
    _write(out_dir, "corpus", {"doc_id": pa.array(np.array(ids, dtype=np.int64)),
                               "text": pa.array(texts)})
    pick = np.sort(rng.choice(len(texts), bench_docs, replace=False))
    bench = [texts[i] for i in pick]
    _write(out_dir, "benchmark", {"text": pa.array(bench)})
    return {"ids": ids, "texts": texts, "parents": parents, "bench": bench}


STREAM_T0_US = int((EPOCH_2024 - np.datetime64("1970-01-01", "us")).astype(np.int64))


def stream_schedule(rng, steps, warm_rows, dt_us, late_share, late_rows, lateness_us,
                    burst_rows, bursts, gap_s, base_events=10_000, n_users=150):
    """The open-loop schedule: replays of a generated events table, one
    event every `dt_us` of event time, due at a fixed rate per step
    (`steps` = [(events per second, seconds)]; `warm_rows` warm-up events
    are spaced at the first step's rate), then `bursts` bursts of
    `burst_rows` events, each all due at once after `gap_s` of quiet (the
    last step index). Part 0
    is the warm-up, part 2 a burst played once after it, part 1 the timed
    steps and bursts. A seeded `late_share` of users lag: each of their
    events is due `late_rows` events later than its place, which keeps
    every user's own events in order but puts them out of order against
    everyone else's. Returns columns sorted by (part, due time)."""
    base = events_columns(rng, base_events, n_users)
    lagging = rng.random(n_users) < late_share
    part_of, step_of, dues = [], [], []
    rates = [r for r, _ in steps]

    def add(p, step, due):
        part_of.append(np.full(len(due), p))
        step_of.append(np.full(len(due), step))
        dues.append(due)

    add(0, 0, np.arange(warm_rows) / rates[0])
    add(2, len(steps), np.zeros(burst_rows))
    start = 0.0
    for i, (rate, secs) in enumerate(steps):
        add(1, i, start + np.arange(int(rate * secs)) / rate)
        start += secs
    for k in range(1, bursts + 1):
        add(1, len(steps), np.full(burst_rows, start + k * gap_s))
    part = np.concatenate(part_of)
    step = np.concatenate(step_of)
    due = np.concatenate(dues)
    n = len(due)
    seq = np.arange(n)
    user = base["user_id"][seq % base_events]
    in_steps = step < len(steps)
    delay = late_rows / np.array(rates)[np.where(in_steps, step, 0)]
    due = due + np.where(lagging[user] & in_steps, delay, 0.0)
    due_us = np.round(due * 1e6).astype(np.int64)
    for p in (0, 1, 2):  # a user's events stay in order within a part
        for u in np.flatnonzero(lagging):
            m = np.flatnonzero((part == p) & (user == u))
            due_us[m] = np.maximum.accumulate(due_us[m])
    ts_us = STREAM_T0_US + seq * dt_us
    order = np.lexsort((seq, due_us, part))
    for p in (0, 1, 2):
        ts = ts_us[order][part[order] == p]
        behind = np.maximum.accumulate(ts) - ts
        if behind.max() >= lateness_us:
            raise ValueError("schedule puts an event beyond the watermark delay")
    return {
        "part": part[order].astype(np.int32), "step": step[order].astype(np.int32),
        "dueUs": due_us[order], "etype": base["event_type"][seq % base_events][order],
        "user": np.array([f"u{u}" for u in user[order]]), "tsUs": ts_us[order],
        "value": base["value"][seq % base_events][order],
    }


def write_schedule(out_dir, cols):
    _write(out_dir, "schedule", {
        "part": pa.array(cols["part"]), "step": pa.array(cols["step"]),
        "dueUs": pa.array(cols["dueUs"]), "etype": pa.array(cols["etype"].tolist()),
        "user": pa.array(cols["user"].tolist()), "tsUs": pa.array(cols["tsUs"]),
        "value": pa.array(cols["value"])})


def input_digest(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
