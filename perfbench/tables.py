"""Seeded generators for the parquet inputs of the benchmark.

`write_tables(dir, sf, seed)` writes the ten star-schema tables every
`SparkEntry.queries` entry reads (FIXTURES.md section A: same names,
columns, types and value domains), scaled like the reference data:
sf0.01 has 60,000 `lineitem` rows and 500 `documents`.

`write_stream(dir, seed, ...)` writes the dedup stream inputs: a seed
corpus (`corpus.parquet`) and the arrivals (`arrivals.parquet`), which
carry planted exact and near copies with the id they copy.

The same seed always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DAY_US = 86_400_000_000


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def _date_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _write(path, table):
    pq.write_table(table, path, compression="snappy")


def _doc_text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def near_copy(rng, text):
    """A near copy as the `documents` table has them: a few words
    replaced, then " dup"."""
    words = text.split()
    for _ in range(max(1, len(words) // 20)):
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words) + " dup"


def make_documents(rng, n, first_id=0, dup_share=0.05):
    """Documents of 8-90 vocabulary words; about `dup_share` of them are
    near copies of an earlier one."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(near_copy(rng, texts[int(rng.integers(0, i))]))
        else:
            texts.append(_doc_text(rng, int(rng.integers(8, 91))))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return ids, texts


def write_tables(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), int(100 * k), int(2000 * k)
    n_ord, n_line, n_ev, n_doc = int(15000 * k), int(60000 * k), int(10000 * k), int(500 * k)
    n_emb = min(n_doc, 2000)

    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}))

    start, end = _date_us(1995, 1, 1), _date_us(2001, 8, 1)
    days = (end - start) // DAY_US
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("P", "O", "F")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(start + rng.integers(0, days + 1, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]}))
    ship0 = _date_us(1995, 1, 2)
    ship_days = (_date_us(2001, 11, 4) - ship0) // DAY_US
    flags = rng.integers(0, 3, n_line)
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in flags],
        "l_linestatus": [("O", "F")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ship0 + rng.integers(0, ship_days + 1, n_line) * DAY_US)}))

    ev0 = _date_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + ev0
    _write(f"{out}/events.parquet", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, int(150 * k ** 0.5), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]}))

    ids, texts = make_documents(rng, n_doc)
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": ids, "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


def write_stream(out, seed, corpus_docs, arrivals, exact_share, near_share):
    """Seed corpus plus arrivals, both shaped like the `documents`
    table. Each arrival is, with the given shares, an exact copy or a
    near copy (`near_copy`) of a corpus document or an earlier arrival;
    the rest are fresh documents."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    cids, ctexts = make_documents(rng, corpus_docs)
    _write(f"{out}/corpus.parquet", pa.table({"doc_id": cids, "text": ctexts}))
    texts, kinds, of = [], [], []
    first = corpus_docs
    for i in range(arrivals):
        r = rng.random()
        if r < exact_share + near_share:
            src = int(rng.integers(0, corpus_docs + i))
            base = ctexts[src] if src < corpus_docs else texts[src - corpus_docs]
            if r < exact_share:
                texts.append(base); kinds.append("exact")
            else:
                texts.append(near_copy(rng, base)); kinds.append("near")
            of.append(src)
        else:
            texts.append(_doc_text(rng, int(rng.integers(8, 91))))
            kinds.append(""); of.append(-1)
    _write(f"{out}/arrivals.parquet", pa.table({
        "doc_id": np.arange(first, first + arrivals, dtype=np.int64),
        "text": texts, "planted": kinds,
        "planted_of": np.array(of, dtype=np.int64)}))
