"""Seeded input generators for the graft benchmark.

Every generator takes a seed and writes files into a directory; the same
seed always writes the same bytes. Each returns a dict of input properties
(rows, duplicate rate, bytes, ...) that the benchmark records next to its
metrics, so how much work the inputs share is on record.

    python3 perfbench/gen.py tables <out_dir> --seed 1 --scale 0.1
    python3 perfbench/gen.py wet <out_dir> --seed 1 --docs <corpus_dir>
"""
import argparse
import gzip
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf1 of the tables the engine's keys read; `scale` multiplies
# them. region and nation stay at 5 and 25 rows. DUP_RATE of the documents
# and embeddings rows are copies of other rows.
DUP_RATE = 0.2
SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
            "documents": 50_000, "embeddings": 20_000}
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = (["en"] * 8) + ["zh"] * 3 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3
EMB_DIM = 64
DAY_US = 86_400_000_000


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * DAY_US, pa.timestamp("us"))


def _write(out, name, cols):
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dup_text(rng, words):
    """A duplicate: every other one exact, the rest with 1-3 tokens replaced."""
    out = list(words)
    if rng.integers(0, 2) == 0:
        return out
    for _ in range(int(rng.integers(1, 4))):
        out[int(rng.integers(0, len(out)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def tables(out, seed, scale):
    """Write the ten tables. DUP_RATE of the documents and embeddings rows
    are copies of other rows: documents exact or with token edits, vectors
    with small noise, so dedup verification and grouping have real work."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in SF1_ROWS.items()}
    n_nation = 25
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(n_nation), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32())})
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, n_nation, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, n_nation, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    npart = n["part"]
    adj = ["large", "hot", "blue", "small", "green", "cold", "red", "old"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"]
    ptypes = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [ptypes[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, no, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, nl, 900.0, 100000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl, "1995-01-02", 2498)})
    ne = n["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                 + rng.integers(0, 30 * DAY_US, ne))
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, ne // 67), ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    n_dup_docs = int(round(nd * DUP_RATE))
    docs = []
    for i in range(nd - n_dup_docs):
        docs.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
    for _ in range(n_dup_docs):
        docs.append(_dup_text(rng, docs[int(rng.integers(0, nd - n_dup_docs))]))
    order = rng.permutation(nd)
    texts = [" ".join(docs[k]) for k in order]
    _write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    n_dup_vecs = int(round(nv * DUP_RATE))
    base = rng.standard_normal((nv - n_dup_vecs, EMB_DIM))
    src = rng.integers(0, nv - n_dup_vecs, n_dup_vecs)
    dups = base[src] / np.linalg.norm(base[src], axis=1, keepdims=True) \
        + rng.normal(0.0, 0.02, (n_dup_vecs, EMB_DIM))
    vecs = np.concatenate([base, dups])[rng.permutation(nv)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})

    rows = {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in ["region", "nation", *SF1_ROWS]}
    return {"scale": scale, "rows": rows, "dup_rate": DUP_RATE,
            "dup_docs": n_dup_docs, "near_dup_vecs": n_dup_vecs,
            "distinct_texts": len(set(texts)), "bytes": _dir_bytes(out)}


def _wet_member(headers, body):
    head = "\r\n".join(headers + [f"Content-Length: {len(body)}", "", ""]).encode()
    return gzip.compress(head + body + b"\r\n\r\n", compresslevel=6, mtime=0)


def wet(out, seed, corpus_dir, n_shards=8, tile_chars=2000):
    """Write the corpus documents as Common-Crawl-layout `.warc.wet.gz`
    shards (one gzip member per record, a warcinfo lead record). Each
    record's text is its document tiled to about `tile_chars` characters,
    with a seeded record order inside each shard."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = pq.read_table(os.path.join(corpus_dir, "documents.parquet"),
                      columns=["doc_id", "source", "text"]).to_pydict()
    recs = list(zip(t["doc_id"], t["source"], t["text"]))
    raw = 0
    for sh in range(n_shards):
        mine = [r for r in recs if r[0] % n_shards == sh]
        parts = [_wet_member(["WARC/1.0", "WARC-Type: warcinfo",
                              "Content-Type: application/warc-fields"],
                             b"software: graft-perfbench\r\n")]
        for k in rng.permutation(len(mine)):
            doc_id, src, text = mine[k]
            body = "\n".join([text] * max(1, tile_chars // max(1, len(text)))).encode()
            raw += len(body)
            parts.append(_wet_member(
                ["WARC/1.0", "WARC-Type: conversion",
                 f"WARC-Target-URI: https://example.com/{src}/{doc_id}",
                 "Content-Type: text/plain"], body))
        with open(os.path.join(out, f"wet_{sh:02d}.warc.wet.gz"), "wb") as f:
            f.write(b"".join(parts))
    return {"records": len(recs), "shards": n_shards, "raw_bytes": raw,
            "bytes": _dir_bytes(out)}


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("kind", choices=["tables", "wet"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="table scale factor (olap uses 0.1, pipeline and smoke 0.001)")
    ap.add_argument("--docs", help="corpus dir whose documents the WET shards carry")
    a = ap.parse_args(argv)
    if a.kind == "tables":
        props = tables(a.out, a.seed, a.scale)
    else:
        props = wet(a.out, a.seed, a.docs)
    print(json.dumps(props))


if __name__ == "__main__":
    main(sys.argv[1:])
