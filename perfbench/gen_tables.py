"""Seeded generator for the query registry's input tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the schemas and
value distributions of the engine's scale-factor fixtures (FIXTURES.md B):
row counts scale linearly with `sf` (lineitem = 6,000,000 x sf), keys are
dense from 0, and the same seed always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
P_NOUN = ["ring", "gear", "rod", "plate", "bolt", "anvil", "widget", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# stopwords the curation funnel's language stage scores (q68's oracle lists)
STOPWORDS = {
    "en": ["the", "a", "and", "is", "not", "of", "to", "in", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"],
    "es": ["el", "la", "los", "las", "y", "es", "no", "un", "una", "de"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "dans", "que"],
    "zh": ["的", "是", "不", "了", "在", "我", "有", "和", "就", "人"],
}
# exact-duplicate share of the curation corpus: verbatim copies of an
# earlier document's text, which the funnel's dedup stage must drop
EXACT_DUP_SHARE = 0.2
# near-duplicate share of documents: a copy of an earlier document with one
# token appended, which the similarity and dedup operators must find
NEAR_DUP_SHARE = 0.05
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """(doc_id, text, lang, source, n_chars): random-vocabulary texts of
    10-100 tokens; NEAR_DUP_SHARE of them copy an earlier text + " dup"."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir, sf, seed):
    """Write every table for scale factor `sf` under `out_dir`; returns
    {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    rows = {}

    def put(name, cols):
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + start_us
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]})
    put("documents", documents(rng, n_docs))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    return rows


def write_curation_documents(out_dir, n, seed):
    """documents.parquet for the curation funnel: n documents of 10-100
    tokens, each drawn from the domain vocabulary plus its language's
    stopwords (a fifth of the tokens), with EXACT_DUP_SHARE verbatim copies;
    returns n."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 68])
    domain = [w for w in WORDS if w not in ("the", "a")]
    langs = [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        k = int(rng.integers(10, 101))
        stop = STOPWORDS[langs[i]]
        texts.append(" ".join(
            stop[int(rng.integers(0, len(stop)))] if rng.random() < 0.2
            else domain[int(rng.integers(0, len(domain)))] for _ in range(k)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return n
