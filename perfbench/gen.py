"""Seeded input generator for the two workloads.

Every input is a pure function of the seed. Each generator also returns
what the output checks need to know: the exact expected word counts, or
the vectors and id sets of the index lifecycle. The expected answers come
from how the inputs were built, not from running the program.
"""
import os
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Short queries of SparkEntry.queries that have an oracle: relational and
# event queries, and the star-closure query over the documents table.
# Every pipeline pass runs each name once, in this order: the seed varies
# the tables, not the order, because the first queries of a cold pass
# also pay for compiling the plans that later ones reuse.
SQL_CANDIDATES = [
    "pricing_summary", "top_orders_per_customer", "customers_without_orders",
    "events_json_stats", "sql_frontend_revenue", "dedup_components_star",
]

WC_FILES = 16
WC_TOKENS = 600_000
WC_VOCAB = 20_000
WC_TOPK = 50
WC_PROBES = 12           # words looked up in the committed sink, 4 a lookup
# create_unitest_files.py's canonical spec: case collisions on purpose
WC_SPEC = {"Hello": 30, "world": 351, "World": 210, "This": 98, "is": 80,
           "hello": 7, "nonsense": 142}

DOC_CHAIN_SHARE = 0.25  # share of documents inside a near-duplicate chain
DOC_WORDS = 60
EMB_DIM = 64
ANN_K = 10
PAGERANK_ITERS = 2
NNDESCENT_ITERS = 2
APPENDS = 3              # IndexStore appends per pass, each then probed
ID_STRIDE = 10_000_000   # per-pass id offset; keeps every pass a new corpus


def _write(df, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _words(rng, n, lo=2, hi=10):
    """n distinct lowercase words (a few start with digits, like 42nd)."""
    letters = np.array(list(string.ascii_lowercase))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        if rng.random() < 0.02:
            w = str(rng.integers(1, 100)) + w
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def gen_wordcount(rng, d):
    """A Zipf corpus in the reference layout: `.txt` files of
    space-separated tokens, lines of varying length. Tokens come in three
    case forms and some carry punctuation that the tokenizer strips, so
    the surface form differs from the counted word."""
    vocab = _words(rng, WC_VOCAB)
    forms = [(w, w.capitalize(), w.upper()) for w in vocab]
    ranks = np.arange(1, WC_VOCAB + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7)
    p /= p.sum()
    idx = rng.choice(WC_VOCAB, size=WC_TOKENS, p=p)
    case = rng.choice(3, size=WC_TOKENS, p=[0.75, 0.2, 0.05])
    words = [forms[i][c] for i, c in zip(idx.tolist(), case.tolist())]
    for w, n in WC_SPEC.items():
        words.extend([w] * n)
    order = rng.permutation(len(words))
    words = [words[i] for i in order.tolist()]

    # expected counts, from the construction (the clean word of a token)
    uniq, counts = np.unique(np.array(words, dtype=object).astype(str),
                             return_counts=True)
    cs = dict(zip(uniq.tolist(), counts.tolist()))
    ci = {}
    for w, n in cs.items():
        ci[w.lower()] = ci.get(w.lower(), 0) + n

    # surface forms: punctuation inside or around some tokens, and a few
    # punctuation-only tokens that clean to nothing and must be dropped
    punct = string.punctuation
    n = len(words)
    pos = rng.random(n)
    pch = rng.integers(0, len(punct), n)
    for i in np.flatnonzero(rng.random(n) < 0.12).tolist():
        w, k = words[i], int(pos[i] * (len(words[i]) + 1))
        words[i] = w[:k] + punct[pch[i]] + w[k:]
    for i in np.flatnonzero(pos < 0.004).tolist():
        words[i] += " " + punct[pch[i]] * 2

    # tokens separated by runs of 1-3 spaces, lines of about a dozen
    gaps = rng.choice([" ", "  ", "   ", "\n"], size=n,
                      p=[0.84, 0.06, 0.02, 0.08]).tolist()
    cdir = os.path.join(d, "corpus")
    os.makedirs(cdir)
    nbytes = 0
    for f, ids in enumerate(np.array_split(np.arange(n), WC_FILES)):
        lo, hi = int(ids[0]), int(ids[-1]) + 1
        parts = [None] * (2 * (hi - lo))
        parts[0::2] = words[lo:hi]
        parts[1::2] = gaps[lo:hi]
        text = "".join(parts[:-1]) + "\n"
        with open(os.path.join(cdir, f"part-{f:03d}.txt"), "w") as fh:
            fh.write(text)
        nbytes += len(text.encode())

    top = sorted(ci.items(), key=lambda kv: (-kv[1], kv[0]))[:WC_TOPK]
    with open(os.path.join(d, "k.txt"), "w") as fh:
        fh.write(f"{WC_TOPK}\n")
    # sink lookups: frequent and rare counted words, and words that never
    # occur (a digit-led word the corpus lacks, and an upper-case form,
    # which the case-folded sink cannot hold)
    counted = sorted(ci)
    probes = [w for w, _ in top[:4]] + [
        counted[i] for i in rng.choice(len(counted), WC_PROBES - 6,
                                       replace=False).tolist()]
    probes += ["0" + top[0][0], top[1][0].upper()]
    with open(os.path.join(d, "probe.txt"), "w") as fh:
        fh.write("\n".join(probes) + "\n")
    sink_bytes = sum(len(f"{w} {n}\n".encode()) for w, n in ci.items())
    return {"input_bytes": nbytes, "ci": ci, "cs": cs, "top": top,
            "lookups": [{w: ci[w] for w in probes[i:i + 4] if w in ci}
                        for i in range(0, WC_PROBES, 4)],
            "sink_line_bytes": sink_bytes}


def gen_sql(rng, d, sf=0.004):
    """Relational and event tables with the project's test-table schema, at a
    small scale factor, so that planning and the per-job floor dominate."""
    t = os.path.join(d, "tables")
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), 60
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    colors = ["red", "blue", "green", "small", "large", "black"]
    nouns = ["widget", "bolt", "ring", "gear", "valve", "panel"]
    evtypes = ["click", "error", "purchase", "signup", "view"]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        off = rng.integers(0, span, n).astype("timedelta64[D]")
        return (base + off).astype("datetime64[us]")

    tabs = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": regions}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(segs, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(colors, n_part), rng.choice(nouns, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(types, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 2000) / 10, 2)}),
    }
    # two thirds of the customers place orders, as in TPC-H
    buyers = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    tabs["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.choice(buyers, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(prios, n_ord)})
    tabs["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2498, n_li)})
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tabs["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us")
               + us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(evtypes, n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents with planted near-duplicate chains, for the star-closure
    # query (dedup_components_star plants 20 more near copies itself);
    # sql_frontend_revenue registers a view over every table of the schema, so
    # the embeddings table exists too, at token size
    texts, _ = _chain_docs(rng, 200)
    tabs["documents"] = pd.DataFrame({
        "doc_id": rng.permutation(200).astype(np.int64), "text": texts,
        "lang": rng.choice(["en", "es", "de"], 200),
        "source": rng.choice(["web", "books"], 200),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    tabs["embeddings"] = _emb_frame(np.arange(20),
                                    _clustered(rng, 20, 2, 0.5))
    tabs["embeddings"]["label"] = np.zeros(20, dtype=np.int32)
    for name in tabs:
        _write(tabs[name], os.path.join(t, f"{name}.parquet"))

    with open(os.path.join(d, "queries.txt"), "w") as fh:
        fh.write(" ".join(SQL_CANDIDATES) + "\n")
    return {"tables": t}


def _clustered(rng, n, clusters, spread):
    centers = rng.normal(size=(clusters, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, clusters, n)
    v = centers[lab] + spread * rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    return v.astype(np.float32)


def _emb_frame(ids, vecs):
    return pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64),
                         "embedding": [r for r in vecs]})


def _chain_docs(rng, n_docs):
    """n_docs documents of DOC_WORDS words; a DOC_CHAIN_SHARE of them
    sit in near-duplicate chains, each copy differing from the previous
    one by one replaced word. Returns (texts, chains of positions)."""
    vocab = _words(rng, 5000, 3, 9)
    n_chain_docs = int(n_docs * DOC_CHAIN_SHARE)
    texts, chains = [], []
    while len(texts) < n_docs:
        doc = list(rng.choice(vocab, DOC_WORDS))
        in_chains = sum(len(c) for c in chains)
        if in_chains < n_chain_docs:
            size = max(2, int(min(rng.integers(2, 6),
                                  n_chain_docs - in_chains)))
            members = []
            for _ in range(size):
                members.append(len(texts))
                texts.append(" ".join(doc))
                doc = list(doc)
                doc[int(rng.integers(0, len(doc)))] = str(rng.choice(vocab))
            chains.append(members)
        else:
            texts.append(" ".join(doc))
    return texts, chains


def gen_ann(rng, d, n_base=300, n_append=60, n_queries=16):
    """Clustered embeddings: a base set (the k-NN graph and the store's
    first version), APPENDS equal append batches, a forget set spread
    over all of them, and probe queries."""
    total = n_base + n_append
    vecs = _clustered(rng, total + n_queries, 16, 0.6)
    _write(_emb_frame(np.arange(n_base), vecs[:n_base]),
           os.path.join(d, "base.parquet"))
    for i, ids in enumerate(np.array_split(np.arange(n_base, total),
                                           APPENDS)):
        _write(_emb_frame(ids, vecs[ids]),
               os.path.join(d, f"append-{i}.parquet"))
    doomed = np.sort(rng.choice(total, total // 20, replace=False))
    _write(pd.DataFrame({"vec_id": doomed.astype(np.int64)}),
           os.path.join(d, "forget.parquet"))
    _write(_emb_frame(np.arange(n_queries), vecs[total:]),
           os.path.join(d, "queries.parquet"))
    with open(os.path.join(d, "params.txt"), "w") as fh:
        fh.write(f"k={ANN_K}\npagerank_iters={PAGERANK_ITERS}\n"
                 f"nndescent_iters={NNDESCENT_ITERS}\n"
                 f"dim={EMB_DIM}\nn_base={n_base}\nn_total={total}\n"
                 f"appends={APPENDS}\n"
                 # build + the appends leave two or more files per cell
                 f"compact_files_per_cell=1.5\nid_stride={ID_STRIDE}\n")
    return {"n_base": n_base, "n_append": n_append,
            "appends": APPENDS,
            "doomed": doomed, "vecs": vecs[:total], "queries": vecs[total:],
            "k": ANN_K, "pagerank_iters": PAGERANK_ITERS}


def gen_pipeline(rng, d):
    sql = gen_sql(rng, os.path.join(d, "sql"))
    ann = gen_ann(rng, os.path.join(d, "ann"))
    return {"sql": sql, "ann": ann}


GENERATORS = {"wordcount": gen_wordcount, "pipeline": gen_pipeline}


def generate(workload, seed, inputs):
    """Write the workload's inputs under `inputs`; return the facts the
    output checks need."""
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    d = os.path.join(inputs, workload if workload == "wordcount" else "")
    os.makedirs(d, exist_ok=True)
    return GENERATORS[workload](rng, d)
