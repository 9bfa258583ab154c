"""Seeded input generator for the benchmark.

Everything the engine sees comes from here, as a pure function of the seed:

  * the star schema + events + documents + embeddings tables, with the same
    schema and value ranges as the engine's synthetic test corpus (one
    single-row-group parquet file per table, timestamps as timestamp[us]);
  * the ledger client schedules (Zipf wallet popularity, read/onboard mix,
    replay share) and the expected ledger of every wallet, derived from
    `events` alone;
  * the pass order of the batch query lists.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _days(rng, n, first, last):
    """Midnight timestamps (µs) uniformly between two epoch days."""
    d = rng.integers(first // DAY, last // DAY + 1, n)
    return pa.array(d * DAY * 1_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_text(rng, lo=10, hi=100):
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi + 1))))


def gen_tables(out, seed, sf, events_sf=None):
    """All ten tables at scale factor `sf` (`events` at `events_sf` when
    given); returns the events columns and the number of users."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * (events_sf or sf)))
    n_users = max(1, int(round(n_ev * 0.015)))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, 788918400, 996624000),  # 1995-01-01..2001-08-01
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 788918400 + DAY, 1004832000)})  # ..2001-11-04

    # events: one per distinct second (so a wallet's history has a strict
    # oldest-first order), ~26 s apart over January 2024
    gaps = 1.0 + rng.exponential(25.0, n_ev)
    ts_us = (EPOCH_2024 * 1_000_000 + np.cumsum(gaps * 1e6)).astype(np.int64)
    ev = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    _write(out, "events", ev)

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(doc_text(rng))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return ev, n_users


def expected_ledgers(ev, n_users, limit=50):
    """Per wallet, the transactions the ingest route must land — its `limit`
    oldest events — and the lamports each moved. Derived from `events` only:
    wallet `W<user_id>`, id `tx<event_id>`, lamports = floor(value * 1e9),
    and a ledger entry exists when the SOL delta clears the 1e-6 dust bar."""
    order = np.lexsort((ev["ts"].to_numpy().astype(np.int64), ev["user_id"]))
    out = {}
    for i in order:
        w = f"W{int(ev['user_id'][i])}"
        rows = out.setdefault(w, [])
        if len(rows) < limit:
            lamports = math.floor(float(ev["value"][i]) * 1e9)
            rows.append([f"tx{int(ev['event_id'][i])}", lamports,
                         lamports / 1e9 > 1e-6])
    return out


def ledger_schedule(seed, wallets, n_clients=2, n_ops=2000, preload=1,
                    onboard_every=6, replay_every=4, zipf_s=1.1):
    """Closed-loop client schedules. The mix is fixed so every seed does the
    same kinds of work: each client's every `onboard_every`-th operation is
    an onboard and the rest are reads, alternating ledger and transactions
    GETs; every `replay_every`-th onboard replays a wallet the client
    already onboarded. The seed picks the wallets: new ones by Zipf
    popularity from the client's own pool (pools are disjoint, so no read
    depends on another client's progress), reads and replays by the same
    popularity among the wallets the client has onboarded. Every client
    starts from the `preload` most popular wallets, onboarded in set-up."""
    rng = np.random.default_rng([seed, 2])
    w = np.array(wallets)
    weight = 1.0 / (rng.permutation(len(w)) + 1.0) ** zipf_s
    by_pop = np.argsort(-weight)
    pre, rest = by_pop[:preload], rng.permutation(by_pop[preload:])

    def draw(idx):
        idx = np.array(idx)
        p = weight[idx]
        return idx[rng.choice(len(idx), p=p / p.sum())]

    clients = []
    for c in range(n_clients):
        pool, known, ops = rest[c::n_clients], list(pre), []
        avail = np.ones(len(pool), bool)
        n_onboard = n_read = 0
        for i in range(n_ops):
            if i % onboard_every == onboard_every - 1:
                n_onboard += 1
                if n_onboard % replay_every == 0 or not avail.any():
                    ops.append(["replay", str(w[draw(known)])])
                else:
                    p = weight[pool] * avail
                    j = rng.choice(len(pool), p=p / p.sum())
                    avail[j] = False
                    known.append(pool[j])
                    ops.append(["onboard", str(w[pool[j]])])
            else:
                n_read += 1
                ops.append(["ledger" if n_read % 2 else "transactions", str(w[draw(known)])])
        clients.append(ops)
    return {"preload": [str(x) for x in w[pre]], "clients": clients}


def pass_order(seed, names, passes):
    rng = np.random.default_rng([seed, 4])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


def dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
