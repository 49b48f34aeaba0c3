"""Seeded input generator for the lifecycle benchmark.

Everything the engine sees is written here as parquet, from the workload
seed alone; the engine is handed only the DataFrames read back from
these files. The properties each workload depends on (tranche size,
duplicate shares, hash flip distance, serving-store size, query set) are
returned as a dict and recorded next to the data as `workload.json`.

Usage (normally called by run.py):
    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# word-salad vocabulary of the synthetic `documents` table
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch", "dup"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
N_BASE_VECTORS = 2000

# ingest: one closed-loop writer commits tranches of this many documents;
# after each commit a retract takes `takedown_docs` of them down
INGEST = {
    "tranche_docs": 128,
    "bootstrap_docs": 512,
    "tranches": 6,
    "exact_dup_share": 0.10,
    "near_dup_share": 0.10,
    "image_hash_flip_bits": 3,
    "embedding_jitter": 0.01,
    "takedown_docs": 8,
}
# serve (optional, not in BENCHMARK.json): one closed-loop client against a
# PQ store of jittered copies of the 2000 base vectors
SERVE = {
    "copies_per_base_vector": 25,
    "queries_per_request": 8,
    "top_k": 10,
    "query_batches": 64,
    "released_docs": N_BASE_VECTORS,
    "takedown_docs": 40,
    "jitter": 0.05,
}
# analytics: a cheap declared query of each query-side module, with the
# module it exercises. Left out for the run budget: flagship_station (its
# SynthLinks build and 432k-row DuckDB oracle cost ~38 s a run) and the
# plain-SQL control q3_revenue (~8 s a run).
ANALYTICS_QUERIES = {
    "p6_tags": "expr.Enrich (the reference's tag extraction)",
    "w1_tumbling": "streaming",
    "a13_range_join_native": "plans",
    "x22_cms_heavy_hitters": "expr (sketches)",
    "x1_dedup_exact": "Dedup",
    "x90_bm25": "Retrieval (text analytics)",
}


def unit_vectors(rng, n, centers, labels, noise):
    v = centers[labels] + rng.normal(0.0, noise, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def emb_array(vecs):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return out


def near_copy(rng, text):
    """Swap one word of a long text: MinHash Jaccard stays above 0.6."""
    w = text.split(" ")
    i = int(rng.integers(0, len(w)))
    w[i] = VOCAB[(VOCAB.index(w[i]) + 1 + int(rng.integers(0, 5))) % len(VOCAB)]
    return " ".join(w)


def write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def base_embeddings(rng):
    """The 2000 labelled vectors: 10 clusters, within-cluster cosine ~0.5."""
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, N_BASE_VECTORS)
    return unit_vectors(rng, N_BASE_VECTORS, centers, labels, 1.0), labels


def isotropic(rng, n):
    """Unrelated unit vectors: pairwise cosine ~0, so never near copies."""
    return unit_vectors(rng, n, np.zeros((1, DIM)), np.zeros(n, int), 1.0)


def ts_us(days0, days):
    # days since 1970 -> timestamp[us] without zone (Spark reads it NTZ)
    return pa.array(((days0 + days) * 86400 * 1_000_000).astype(np.int64),
                    type=pa.timestamp("us"))


def sf_tables(rng, out):
    """The ten scale-factor-0.1 tables the declared queries read."""
    d = {}
    d["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    d["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no, nl = 15000, 1000, 20000, 150000, 600000
    d["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, nc)]})
    d["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    d["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    d95 = 9131  # 1995-01-01 in days since epoch
    odays = rng.integers(0, 2404, no)
    d["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": ts_us(d95, odays),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)]})
    lok = rng.integers(0, no, nl)
    d["lineitem"] = pa.table({
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": ts_us(d95, odays[lok] + rng.integers(1, 122, nl))})
    ne = 100000
    d24 = 19723  # 2024-01-01
    tsu = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne))
    d["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(d24 * 86400 * 1_000_000 + tsu, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne).clip(0, 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 5000
    txt = texts(rng, nd)
    # a few exact and near copies, as in the reference tables
    for i in rng.choice(nd, 40, replace=False):
        j = int(rng.integers(0, nd))
        txt[i] = txt[j] if i % 5 == 0 else near_copy(rng, txt[j])
    d["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": txt,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in txt], dtype=np.int64)})
    vecs, labels = base_embeddings(rng)
    d["embeddings"] = pa.table({
        "vec_id": np.arange(N_BASE_VECTORS, dtype=np.int64),
        "embedding": emb_array(vecs),
        "label": labels.astype(np.int32)})
    return sum(write(t, f"{out}/{n}.parquet") for n, t in d.items())


def gen_ingest(rng, out):
    p = dict(INGEST)
    vecs = isotropic(rng, INGEST["bootstrap_docs"])
    hashes_all = rng.integers(0, 2**64 - 1, 10**5, dtype=np.uint64)
    # the bootstrap tranche: the IVF codebook trains on its vectors, the
    # PQ serving store on its vectors, and copies are drawn from it
    nb = p["bootstrap_docs"]
    boot = {"doc_id": np.arange(nb, dtype=np.int64), "text": texts(rng, nb, 40, 100),
            "hash": hashes_all[:nb], "vec": vecs[:nb]}
    flip = p["image_hash_flip_bits"]
    meta = []

    def table(ids, txt, hs, vs):
        return pa.table({"doc_id": ids, "text": txt, "hash": hs.view(np.int64),
                         "embedding": emb_array(vs)})

    def nbytes(txt):
        return sum(len(t.encode()) for t in txt) + len(txt) * (8 + 8 + DIM * 4)

    write(table(boot["doc_id"], boot["text"], boot["hash"], boot["vec"]),
          f"{out}/bootstrap.parquet")
    input_bytes_boot = nbytes(boot["text"])
    hi = nb
    n = p["tranche_docs"]
    n_exact = int(round(n * p["exact_dup_share"]))
    n_near = int(round(n * p["near_dup_share"]))
    for t in range(1, p["tranches"] + 1):
        ids = np.arange(t * 100000, t * 100000 + n, dtype=np.int64)
        txt = texts(rng, n, 20, 100)
        hs = hashes_all[hi:hi + n].copy()
        hi += n
        vs = isotropic(rng, n)
        src = rng.choice(nb, n_exact + n_near, replace=False)
        for i, s in enumerate(src):
            if i < n_exact:   # exact copy of a bootstrap doc, all modalities
                txt[i], hs[i], vs[i] = boot["text"][s], boot["hash"][s], boot["vec"][s]
            else:             # near copy: one word, a few hash bits, jitter
                txt[i] = near_copy(rng, boot["text"][s])
                mask = sum(1 << int(b) for b in rng.choice(64, flip, replace=False))
                hs[i] = boot["hash"][s] ^ np.uint64(mask)
                v = boot["vec"][s] + rng.normal(0, p["embedding_jitter"], DIM)
                vs[i] = (v / np.linalg.norm(v)).astype(np.float32)
        write(table(ids, txt, hs, vs), f"{out}/tranche_{t}.parquet")
        # takedown victims: originals of this tranche, never copy targets
        victims = ids[n_exact + n_near:][rng.choice(n - n_exact - n_near,
                                                    p["takedown_docs"], replace=False)]
        meta.append({"tranche": t, "exact_copies": ids[:n_exact].tolist(),
                     "near_copies": ids[n_exact:n_exact + n_near].tolist(),
                     "victims": sorted(victims.tolist()),
                     "input_bytes": nbytes(txt)})
    with open(f"{out}/tranches.json", "w") as f:
        json.dump({"bootstrap_input_bytes": input_bytes_boot, "tranches": meta}, f)
    return p


def gen_serve(rng, out):
    p = dict(SERVE)
    vecs, _ = base_embeddings(rng)
    c = p["copies_per_base_vector"]
    # row r jitters base vector r % 2000, so ids 0..1999 are the copies
    # nearest the base set and the committed, released documents
    allv = np.tile(vecs, (c, 1)) + rng.normal(0, p["jitter"], (len(vecs) * c, DIM))
    allv = (allv / np.linalg.norm(allv, axis=1, keepdims=True)).astype(np.float32)
    ids = np.arange(len(allv), dtype=np.int64)
    write(pa.table({"vec_id": ids, "embedding": emb_array(allv)}),
          f"{out}/store.parquet")
    write(pa.table({"doc_id": np.arange(p["released_docs"], dtype=np.int64),
                    "text": texts(rng, p["released_docs"], 20, 60)}),
          f"{out}/release_docs.parquet")
    q = p["queries_per_request"] * p["query_batches"]
    qv = vecs[rng.integers(0, N_BASE_VECTORS, q)] + rng.normal(0, p["jitter"], (q, DIM))
    qv = (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({"vec_id": np.arange(10**9, 10**9 + q, dtype=np.int64),
                    "batch": np.arange(q, dtype=np.int32) // p["queries_per_request"],
                    "embedding": emb_array(qv)}), f"{out}/queries.parquet")
    victims = rng.choice(p["released_docs"], p["takedown_docs"], replace=False)
    write(pa.table({"doc_id": np.sort(victims).astype(np.int64)}),
          f"{out}/takedown.parquet")
    p["store_vectors"] = int(len(allv))
    return p


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "ingest":
        props = gen_ingest(rng, out)
    elif workload == "serve":
        props = gen_serve(rng, out)
    elif workload == "analytics":
        props = {"tables": "sf0.1 shape (lineitem 600000 rows, documents "
                           "5000, embeddings 2000)",
                 "queries": ANALYTICS_QUERIES}
        props["input_bytes"] = sf_tables(rng, out)
    else:
        raise SystemExit(f"unknown workload {workload}")
    props["workload"], props["seed"] = workload, seed
    with open(f"{out}/workload.json", "w") as f:
        json.dump(props, f, indent=1)


if __name__ == "__main__":
    main()
