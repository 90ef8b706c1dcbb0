"""Output checks. Each derives its expected answer independently of the
program: from how the generator built the inputs, from a brute-force
computation in numpy, or from the DuckDB oracle. A wrong answer counts
the operation that produced it as failed.

Every check function returns {operation name: [ok per occurrence]} plus
a dict of measured quality figures.
"""
import glob
import os

import numpy as np

NNDESCENT_RECALL_FLOOR = 0.9
PROBE_RECALL_FLOOR = 0.6


def _tsv(path, types):
    out = []
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for line in fh:
            if line.strip():
                parts = line.rstrip("\n").split("\t")
                out.append(tuple(t(p) for t, p in zip(types, parts)))
    return out


def _passes(result):
    return sorted(p["pass"] for p in result["passes"])


def check_wordcount(result, facts, out):
    ok = {"wordcount_ci": [], "wordcount_cs": [], "topk": [], "sink": [],
          "lookup": []}
    amps = []
    for p in _passes(result):
        d = os.path.join(out, "wordcount", f"pass-{p}")
        ci = dict(_tsv(os.path.join(d, "ci.tsv"), (str, int)))
        cs = dict(_tsv(os.path.join(d, "cs.tsv"), (str, int)))
        top = _tsv(os.path.join(d, "topk.tsv"), (str, int))
        ok["wordcount_ci"].append(ci == facts["ci"])
        ok["wordcount_cs"].append(cs == facts["cs"])
        ok["topk"].append(top == [tuple(t) for t in facts["top"]])
        sink = {}
        good = True
        for f in glob.glob(os.path.join(d, "sink", "part-*")):
            with open(f) as fh:
                for line in fh:
                    word, _, n = line.rstrip("\n").rpartition(" ")
                    good &= word not in sink
                    sink[word] = int(n)
        ok["sink"].append(good and sink == facts["ci"])
        found = {}
        for g, w, n in _tsv(os.path.join(d, "lookup.tsv"), (int, str, int)):
            found.setdefault(g, {})[w] = n
        for g, expect in enumerate(facts["lookups"]):
            ok["lookup"].append(found.get(g, {}) == expect)
        # bytes the sink left on disk per byte of its "{word} {count}" lines
        with open(os.path.join(d, "sink_bytes.txt")) as fh:
            amps.append(int(fh.read().strip()) / facts["sink_line_bytes"])
    return ok, {"store_amp": float(np.median(amps))}


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same_frame(spark_df, duck_df):
    """Exact equality after sorting columns by name and rows by value:
    same columns, same row count, same dtype kinds, same values."""
    s, d = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(d.columns) or len(s) != len(d):
        return False
    for c in s.columns:
        if s[c].dtype.kind != d[c].dtype.kind:
            return False
        if s[c].dtype.kind == "f":
            if not np.array_equal(s[c].to_numpy(float), d[c].to_numpy(float),
                                  equal_nan=True):
                return False
        elif not (s[c].astype(str).values == d[c].astype(str).values).all():
            return False
    return True


def check_sql(result, facts, out):
    import pandas as pd
    # queries that raised, or whose later answers differ from the first
    bad = {c["name"].split(":", 1)[1] for c in result["checks"]
           if not c["ok"]}
    verdict = {}
    for q, oracle in facts["oracle"].items():
        path = os.path.join(out, "sql", q)
        if not os.path.exists(path):
            continue
        verdict[q] = (q not in bad and oracle is not None
                      and _same_frame(pd.read_parquet(path), oracle))
    ok = {}
    for o in result["ops"]:
        if o["kind"] == "query":
            ok.setdefault(o["name"], []).append(verdict.get(o["name"], False))
    return ok, {}


def exact_knn(vecs, queries, k, exclude_self):
    """Brute-force top-k neighbour ids by cosine similarity."""
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ v.T
    if exclude_self:
        np.fill_diagonal(sims, -np.inf)
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def pagerank(edges, iters, scale=1_000_000_000, damp=85):
    """Graph.pageRank's fixed-point integer update, recomputed in Python."""
    nodes = sorted({s for s, _ in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {n: scale for n in nodes}
    base = (100 - damp) * scale // 100
    for _ in range(iters):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + pr[s] // outdeg[s]
        pr = {n: base + (damp * contrib.get(n, 0)) // 100 for n in nodes}
    return pr


def _recall(got, live, exact):
    """Share of the exact top-k ids (rows of `exact`, indexes into `live`)
    that `got` ({query: set of ids}) returned."""
    hits = sum(len(got.get(q, set()) & set(live[row].tolist()))
               for q, row in enumerate(exact))
    return hits / exact.size


def check_ann(result, facts, out):
    k = facts["k"]
    nb, vecs = facts["n_base"], facts["vecs"]
    total = nb + facts["n_append"]
    doomed = set(int(x) for x in facts["doomed"])
    base_ids = np.arange(nb)
    knn_truth = exact_knn(vecs[:nb], vecs[:nb], k, exclude_self=True)
    rows = {"build": nb, "compact": total, "forget": total - len(doomed)}
    # after append i the store holds the base and the first i + 1 batches,
    # and the probe that follows searches exactly those vectors
    probe_truth = {}
    batches = np.array_split(np.arange(nb, total), facts["appends"])
    for i, ids in enumerate(batches):
        live = int(ids[-1]) + 1
        rows[f"append-{i}"] = live
        probe_truth[f"append-{i}"] = (
            np.arange(live), exact_knn(vecs[:live], facts["queries"], k, False))
    ok = {n: [] for n in ("nndescent", "pagerank", "train", "build",
                          "append", "probe", "compact", "forget", "vacuum")}
    nn_recalls, probe_recalls, amps = [], [], []
    for p in _passes(result):
        d = os.path.join(out, "ann", f"pass-{p}")
        edges = _tsv(os.path.join(d, "knn.tsv"), (int, int, int))
        nbrs = {}
        for q, nn, _ in edges:
            nbrs.setdefault(q, set()).add(nn)
        shape = len(nbrs) == nb and all(len(v) == k for v in nbrs.values())
        recall = _recall(nbrs, base_ids, knn_truth)
        nn_recalls.append(recall)
        ok["nndescent"].append(shape and recall >= NNDESCENT_RECALL_FLOOR)
        ranks = dict(_tsv(os.path.join(d, "pagerank.tsv"), (int, int)))
        expect = pagerank([(q, nn) for q, nn, _ in edges],
                          facts["pagerank_iters"])
        ok["pagerank"].append(bool(ranks) and ranks == expect)

        row = _tsv(os.path.join(d, "train.tsv"), (int, int, int, int))
        # one code row per base vector, 16 PQ sub-codes each
        ok["train"].append(bool(row) and row[0][:2] == (nb, nb)
                           and row[0][2] == row[0][3] == 16)
        for label, _v, meta, counted in _tsv(
                os.path.join(d, "versions.tsv"), (str, int, int, int)):
            ok[label.split("-")[0]].append(
                meta == rows[label] and counted == rows[label])
        ev = dict(_tsv(os.path.join(d, "events.tsv"), (str, str)))
        ok["vacuum"].append(ev.get("forgotten_left") == "0"
                            and ev.get("compact_fired") == "true")
        amps.append(float(ev.get("store_amp", "nan")))
        probes = {}
        for label, q, nn, _rn in _tsv(os.path.join(d, "probes.tsv"),
                                      (str, int, int, int)):
            probes.setdefault(label, {}).setdefault(q, set()).add(nn)
        for label, (live_ids, truth) in probe_truth.items():
            recall = _recall(probes.get(label, {}), live_ids, truth)
            probe_recalls.append(recall)
            ok["probe"].append(recall >= PROBE_RECALL_FLOOR)
    return ok, {"nndescent.recall_at_k": float(np.median(nn_recalls)),
                "probe.recall_at_k": float(np.median(probe_recalls)),
                "store_amp": float(np.median(amps))}


def check_pipeline(result, facts, out):
    ok, quality = check_ann(result, facts["ann"], out)
    sql_ok, _ = check_sql(result, facts["sql"], out)
    for name in facts["sql"]["oracle"]:
        ok[name] = sql_ok.get(name, [])
    return ok, quality


CHECKS = {"wordcount": check_wordcount, "pipeline": check_pipeline}
