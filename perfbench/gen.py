#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Every input the engine sees is written here from `--seed`; the same seed
gives byte-identical files. Tables follow the schemas of the engine's
TPC-H-ish test data (one parquet file per table, written the way pyarrow
writes it by default, so row-group counts are whatever that gives):

  region nation customer supplier part orders lineitem events documents
  embeddings

plus, per workload, the JSONL corpus of llm_pipe and the request set of
serve_mixed. `describe()` measures the properties each run record states.

Usage: python3 perfbench/gen.py <workload> <seed> <outdir>
"""
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window",
         "spark", "a", "group", "part", "big", "sort", "query", "fast",
         "the"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Per-workload generator settings. Every number here is a stated input
# property of its workload (README.md).
WORKLOADS = {
    # sf0.01-shaped star schema and 500 documents (the shape of the
    # engine's sf0.01 gate data): the heavy-tail queries' exchanges, pair
    # joins and graph loops.
    "shuffle_heavy": dict(sf=0.01, docs=500, embeddings=500),
    # instruction corpus: rows, share of rows repeating an earlier row's
    # scoped fields, and the model's per-call delay.
    "llm_pipe": dict(sf=0.001, docs=500, embeddings=500,
                     rows=4000, repeat_share=0.15, delay_ms=1.0),
    # ANN index of 2,000 x 64 embeddings; /chat prompts, a fifth of them
    # repeats from a pool that fits the LLM cache; a slower model than
    # llm_pipe's, so replies are dominated by the model's wall-clock delay.
    "serve_mixed": dict(sf=0.001, docs=500, embeddings=2000,
                        requests=1000, chat_pool=200,
                        delay_ms=5.0),
}
NEAR_DUP_SHARE = 0.05   # "<text of another doc> dup"
EXACT_DUP_SHARE = 0.02  # verbatim copy of another doc's text


def _write(table, path):
    pq.write_table(table, path)


def gen_tables(rng, out, sf, n_docs, n_emb):
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_ord, n_li, n_ev = n(1500000), n(6000000), n(1000000)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot",
                    "cold"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil",
                     "ring", "gear"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                      "PROMO"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")

    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            (d0 + rng.integers(0, 2404, n_ord) * day).astype("datetime64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (np.datetime64("1995-01-02") + rng.integers(0, 2498, n_li) * day)
            .astype("datetime64[us]"), pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")

    n_users = max(150, n_ev // 66)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < NEAR_DUP_SHARE:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = 0.3 * centroids[labels] + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")
    return vecs


def gen_llm_corpus(rng, out, rows, repeat_share):
    """JSONL rows {id, title, body, notes}; a `repeat_share` of rows copy
    an earlier row's scoped fields, so their prompts repeat."""
    with open(f"{out}/corpus.jsonl", "w") as f:
        kept = []
        for i in range(rows):
            if kept and rng.random() < repeat_share:
                title, body, notes = kept[rng.integers(0, len(kept))]
            else:
                w = lambda k: " ".join(VOCAB[x] for x in rng.integers(0, 30, k))
                title, body, notes = (w(4), w(int(rng.integers(20, 60))),
                                      w(int(rng.integers(5, 15))))
                kept.append((title, body, notes))
            f.write(json.dumps({"id": i, "title": title, "body": body,
                                "notes": notes}) + "\n")


def gen_requests(rng, out, vecs, cfg):
    """Serve request set with exact shares in a fixed interleaving (so
    the seed changes what is asked, not how requests cluster): /chat,
    every other one drawn from a small pool, and /ann/topk, an index
    vector plus noise."""
    n = cfg["requests"]
    # of every 10 requests: 1 /ann/topk, 2 repeats from the pool, 7 new
    # chats (each a model call)
    kinds = ["ann" if i % 10 == 0 else "repeat" if i % 10 in (3, 7)
             else "chat" for i in range(n)]
    words = lambda: " ".join(VOCAB[x] for x in rng.integers(0, 30, 12))
    pool = [words() for _ in range(cfg["chat_pool"])]
    with open(f"{out}/requests.jsonl", "w") as f:
        for i, kind in enumerate(kinds):
            if kind == "ann":
                v = vecs[rng.integers(0, len(vecs))] + rng.normal(0, 0.05, 64)
                body = {"vector": [round(float(x), 6) for x in v], "k": 5}
                f.write(json.dumps({"path": "/ann/topk", "body": body}) + "\n")
            else:
                text = pool[rng.integers(0, len(pool))] if kind == "repeat" \
                    else f"q{i} {words()}"
                body = {"llm": "mock",
                        "messages": [{"role": "user", "content": text}]}
                f.write(json.dumps({"path": "/chat", "body": body}) + "\n")


def generate(workload, seed, out):
    cfg = WORKLOADS[workload]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    vecs = gen_tables(rng, out, cfg["sf"], cfg["docs"], cfg["embeddings"])
    if "rows" in cfg:
        gen_llm_corpus(rng, out, cfg["rows"], cfg["repeat_share"])
    if "requests" in cfg:
        gen_requests(rng, out, vecs, cfg)
    return cfg


def describe(workload, out):
    """Measured input properties for the run record."""
    cfg = WORKLOADS[workload]
    props = {"seed_settings": cfg, "tables": {}}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(f"{out}/{f}").metadata
            props["tables"][f[:-8]] = {
                "rows": md.num_rows, "bytes": os.path.getsize(f"{out}/{f}"),
                "files": 1, "row_groups": md.num_row_groups}
    docs = pq.read_table(f"{out}/documents.parquet", columns=["text"])
    texts = docs.column("text").to_pylist()
    props["documents_exact_dup_share"] = round(
        1 - len(set(texts)) / len(texts), 4)
    if "rows" in cfg:
        rows = [json.loads(l) for l in open(f"{out}/corpus.jsonl")]
        scopes = {(r["title"], r["body"], r["notes"]) for r in rows}
        props["corpus"] = {
            "rows": len(rows), "bytes": os.path.getsize(f"{out}/corpus.jsonl"),
            "repeated_scope_share": round(1 - len(scopes) / len(rows), 4),
            # map stage: 2 prompts per distinct scope; reduce: 1 more
            "distinct_prompts": 3 * len(scopes), "llm_cache_capacity": 10000,
            "delay_ms_per_call": cfg["delay_ms"]}
    if "requests" in cfg:
        reqs = [json.loads(l) for l in open(f"{out}/requests.jsonl")]
        chats = [r["body"]["messages"][0]["content"] for r in reqs
                 if r["path"] == "/chat"]
        props["requests"] = {
            "requests": len(reqs), "chat": len(chats),
            "ann": len(reqs) - len(chats),
            "chat_repeat_share": round(1 - len(set(chats)) / len(chats), 4),
            "distinct_chat_prompts": len(set(chats)),
            "llm_cache_capacity": 10000, "delay_ms_per_call": cfg["delay_ms"]}
    return props


if __name__ == "__main__":
    wl, seed, outdir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    generate(wl, seed, outdir)
    print(json.dumps(describe(wl, outdir)))
