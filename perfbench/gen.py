"""Seeded input generators for the benchmark workloads.

The generator takes a seed and an output directory and writes parquet
files with pyarrow only (no Spark), so the same seed gives byte-identical
files. Nothing here reads outside the directory it is given.

  * ``corpus``  documents with planted near-duplicate clusters, a hot
                source, per-source boilerplate lines, mojibake and one
                embedding per document (corpus_dedup).

query_mix needs no generator: it reads the catalog's sf0.01 tables,
kept as a copy in ``data/sf0.01``, and the seed picks its queries.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every writer option that could vary between runs is fixed here.
_WRITE = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_WRITE)


_WORDS = ("join hash row batch scan column customer filter small slow merge order "
              "vector line table data agg value key stream window a spark part group big "
              "sort query fast the").split()


def catalog_tables(seed: int, out: str, scale: float = 1.0) -> list[str]:
    """The catalog's ten tables; ``scale`` 1.0 matches the sf0.01 row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 25), int(2000 * scale)
    n_ord, n_li, n_ev, n_doc = int(15000 * scale), int(60000 * scale), int(10000 * scale), int(500 * scale)
    os.makedirs(out, exist_ok=True)
    tabs: dict[str, pa.Table] = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tabs["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tabs["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "hinge"]
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tabs["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tabs["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), dt.date(1995, 1, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    tabs["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, 2498, n_li), dt.date(1995, 1, 2))})
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tabs["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.zeros(n_ev, np.int64), dt.date(2024, 1, 1), us),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i % 25 == 24:  # a few exact/near copies of an earlier document
            texts.append(texts[i - 7] + " dup")
            continue
        texts.append(" ".join(np.array(_DOC_WORDS)[rng.integers(0, len(_DOC_WORDS), rng.integers(8, 96))]))
    langs = np.array(["en"] * 4 + ["de", "es", "fr", "zh"])
    tabs["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(size=(10, 64))
    emb = centers[labels] + rng.normal(scale=1.5, size=(n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tabs["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tabs.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return sorted(tabs)


_WORDS = ("the of and to in is that it for was on with as by at from this be are "
          "data system model query table value result index cluster vector record "
          "shuffle memory engine stream window process report sample feature metric "
          "network storage compute planner kernel worker column partition sketch "
          "corpus token filter signal market river mountain garden village winter "
          "summer history science culture music theatre journey harbour library").split()
_ACCENTED = ["café", "naïve", "résumé", "façade", "señor", "mañana", "über", "crème"]


def _mojibake(s: str) -> str:
    return s.encode("utf-8").decode("latin-1")


def corpus(seed: int, out: str, n_docs: int = 1200, n_sources: int = 12,
           cluster_every: int = 8, cluster_size: int = 4, dim: int = 64) -> dict:
    """Documents (doc_id, source, text) and embeddings (doc_id, v).

    Every ``cluster_every``-th base document seeds a planted cluster of
    ``cluster_size`` members: copies with a few words substituted, so the
    members are near duplicates of each other. A third of the documents
    come from source ``s0`` (the hot key). Each source has a header
    line present in all its documents (boilerplate). Every 9th document
    carries mojibake (UTF-8 text read as latin-1). Embeddings of one
    planted cluster sit within a small angle of a shared direction.
    Returns the planted clusters as lists of doc ids.
    """
    rng = np.random.default_rng([seed, 2])
    words = np.array(_WORDS)
    docs: list[str] = []
    vecs = []
    clusters: list[list[int]] = []
    while len(docs) < n_docs:
        n_words = int(rng.integers(70, 160))
        body = list(words[rng.integers(0, len(words), n_words)])
        base = rng.normal(size=dim)
        base_id = len(docs)
        members = cluster_size if base_id % cluster_every == 0 else 1
        for m in range(min(members, n_docs - len(docs))):
            w = list(body)
            if m:  # substitute a few words: Jaccard stays well above 0.7
                for pos in rng.integers(0, len(w), 2):
                    w[pos] = str(words[rng.integers(0, len(words))])
            docs.append(" ".join(w))
            vecs.append(base + rng.normal(scale=0.05, size=dim) if members > 1
                        else rng.normal(size=dim))
        if members > 1:
            clusters.append(list(range(base_id, len(docs))))
    texts = []
    sources = []
    for i, body in enumerate(docs):
        src = "s0" if i % 3 == 0 else f"s{i % n_sources}"
        toks = body.split(" ")
        k = len(toks) // 2
        text = (f"welcome to the {src} portal\n" + " ".join(toks[:k]) + "\n"
                + " ".join(toks[k:]))
        if i % 9 == 4:
            text += " " + _mojibake(_ACCENTED[i % len(_ACCENTED)])
        texts.append(text)
        sources.append(src)
    v = np.asarray(vecs)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    os.makedirs(out, exist_ok=True)
    ids = np.arange(len(texts), dtype=np.int64)
    _write(pa.table({"doc_id": ids, "source": sources, "text": texts}),
           os.path.join(out, "docs.parquet"))
    _write(pa.table({"doc_id": ids,
                     "v": pa.array(list(v.astype(np.float64)), pa.list_(pa.float64()))}),
           os.path.join(out, "emb.parquet"))
    return {"clusters": clusters, "n_docs": len(texts)}
