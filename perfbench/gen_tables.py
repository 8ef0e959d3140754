#!/usr/bin/env python3
"""Seeded generator for the query workloads' input tables.

Writes the ten parquet tables the query suite reads (region nation
customer supplier part orders lineitem events documents embeddings) with
the same schema, physical types and value domains as the suite's
fixture data: uniform TPC-H-ish keys and prices, a 30-day event stream,
a 31-word document corpus with 5% planted near-duplicates, and unit-norm
64-dimensional float32 embeddings.

`--replica K` then replaces documents and embeddings by a K-fold
near-duplicate replica, a seeded version of the perturbation in
`tools/make_sf1.py`: replica k > 0 of a document suffixes a seeded ~10%
of its tokens with `k`; replica k of a vector adds a seeded per-replica
offset of about 1e-4.

Entry point: generate(out_dir, seed, sf, replica), called by run.py.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
P_TYPES = "LARGE ECONOMY STANDARD PROMO SMALL MEDIUM".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
LANGS = ["en", "fr", "zh", "de", "es"]
DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    """Two-decimal prices drawn uniformly in cents."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * DAY_US, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet", compression="snappy")


def relational(out, rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    names = np.char.add(np.char.add(np.asarray(ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.asarray(NOUN)[rng.integers(0, 8, n_part)])
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names.tolist(), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 999.99),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})


def documents(rng, n_docs):
    """Uniform 10..100-token texts; 5% are another document plus ' dup',
    0.2% are exact copies of another document."""
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))])
             for _ in range(n_docs)]
    kind = rng.random(n_docs)
    src = rng.integers(0, n_docs, n_docs)
    for i in range(n_docs):
        if kind[i] < 0.05 and src[i] != i:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052 and src[i] != i:
            texts[i] = texts[src[i]]
    langs = rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return texts, langs.tolist()


def write_documents(out, ids, texts, langs):
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_embeddings(out, ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat)
    _write(out, "embeddings", {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32())})


def corpus(out, rng, sf, replica):
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)
    texts, langs = documents(rng, n_docs)
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.01, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    if replica <= 1:
        write_documents(out, list(range(n_docs)), texts, langs)
        write_embeddings(out, np.arange(n_vec), vecs, labels)
        return
    ids, rtexts, rlangs = [], [], []
    for k in range(replica):
        for d, (t, lang) in enumerate(zip(texts, langs)):
            if k:
                toks = t.split(" ")
                hit = rng.random(len(toks)) < 0.1
                t = " ".join(w + str(k) if h else w for w, h in zip(toks, hit))
            ids.append(d + k * n_docs)
            rtexts.append(t)
            rlangs.append(lang)
    write_documents(out, ids, rtexts, rlangs)
    offs = rng.uniform(0.5e-4, 1.5e-4, replica)
    offs[0] = 0.0
    rvecs = np.concatenate([vecs + o for o in offs])
    write_embeddings(out, np.arange(n_vec * replica), rvecs, np.tile(labels, replica))


def generate(out, seed, sf=0.1, replica=1):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    relational(out, rng, sf)
    corpus(out, rng, sf, replica)

