"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files (test_gen.py pins it). Sizes are fixed per
workload and do not depend on the seed; the seed only moves which rows
carry which values, which documents are near-duplicate copies, and which
vectors sit in which cluster.

Tables (one parquet file each, the layout graft's Tables.df reads):
  lineitem    TPC-H-like line items, unique (l_orderkey, l_linenumber)
  orders      TPC-H-like orders, pk o_orderkey = 0 .. n-1
  documents   token-stream text over a fixed Zipf vocabulary; exactly
              DUP_FRACTION of the rows (seeded positions) are copies of an
              earlier document with 1-3 seeded word edits (replace, delete
              or insert)
  embeddings  64-dim float vectors in 16 seeded clusters; exactly
              VEC_DUP_FRACTION of the rows are jittered copies of an
              earlier vector
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 16
DUP_FRACTION = 0.2
VEC_DUP_FRACTION = 0.1
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
EPOCH = datetime.date(1992, 1, 1)

# Rows per table for each workload: small enough that a run fits the
# benchmark's time budget on 4 cores, large enough that every operator
# runs real Spark stages (graftbench/BENCHMARK.md gives the budget).
SIZES = {
    "serve": {"lineitem": 60_000, "orders": 20_000, "documents": 1_000,
              "embeddings": 2_000},
    "dedup": {"documents": 600, "embeddings": 800},
}


def vocabulary():
    """Fixed 3000-word vocabulary (independent of the seed)."""
    rng = np.random.default_rng(7)
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "zo", "pe", "si", "da", "fu",
            "gri", "sto", "ber", "lan", "mor", "vin", "qua", "tel", "shi"]
    words, seen = [], set(STOPWORDS)
    while len(words) < 3000:
        w = "".join(syll[i] for i in rng.integers(0, len(syll), rng.integers(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def lineitem(rng, n):
    lines = rng.integers(1, 8, size=n)
    orderkey = np.repeat(np.arange(n), lines)[:n].astype(np.int64)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:n].astype(np.int32)
    n_part, n_supp = max(n // 30, 10), max(n // 600, 10)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)
    days = rng.integers(0, 2500, size=n)
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, n_part + 1, size=n).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, size=n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
        "l_shipmode": np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB",
                                "REG AIR"])[rng.integers(0, 7, size=n)],
        "l_shipdate": pa.array([EPOCH + datetime.timedelta(days=int(d)) for d in days],
                               pa.date32()),
    }), {"n_part": n_part, "n_supp": n_supp, "n_orders": int(orderkey[-1]) + 1}


def orders(rng, n):
    days = rng.integers(0, 2500, size=n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(1, max(n // 10, 10) + 1, size=n).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, size=n), 2),
        "o_orderdate": pa.array([EPOCH + datetime.timedelta(days=int(d)) for d in days],
                                pa.date32()),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, size=n)],
    }), {}


def documents(rng, n, vocab):
    words = np.array(STOPWORDS + vocab)
    probs = _zipf_probs(len(words), 1.0)
    dups = set(rng.choice(np.arange(20, n), size=round(DUP_FRACTION * n), replace=False).tolist())
    texts, dup_of = [], []
    for i in range(n):
        if i in dups:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                pos = int(rng.integers(0, len(toks)))
                kind = int(rng.integers(0, 3))
                w = str(words[rng.choice(len(words), p=probs)])
                if kind == 0:
                    toks[pos] = w
                elif kind == 1 and len(toks) > 25:
                    del toks[pos]
                else:
                    toks.insert(pos, w)
            texts.append(" ".join(toks))
            dup_of.append(src)
        else:
            k = int(rng.integers(30, 90))
            texts.append(" ".join(words[rng.choice(len(words), size=k, p=probs)]))
            dup_of.append(-1)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, size=n)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), {"n_dup_injected": int(sum(d >= 0 for d in dup_of))}


def embeddings(rng, n):
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cluster = rng.integers(0, N_CLUSTERS, size=n)
    vecs = centers[cluster] + rng.normal(scale=0.08, size=(n, DIM))
    dups = rng.choice(np.arange(20, n), size=round(VEC_DUP_FRACTION * n), replace=False)
    for i in sorted(dups.tolist()):
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(scale=0.0025, size=DIM)
        cluster[i] = cluster[src]
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": (cluster % 10).astype(np.int32),
        "half": rng.integers(0, 2, size=n).astype(np.int32),
    }), {}


def generate(workload, seed, out_dir):
    """Write the workload's tables and meta.json under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = vocabulary()
    meta = {"workload": workload, "seed": seed, "dim": DIM,
            "dup_fraction": DUP_FRACTION, "vec_dup_fraction": VEC_DUP_FRACTION,
            "vocab": vocab[:400], "rows": {}}
    for i, (name, n) in enumerate(sorted(SIZES[workload].items())):
        # one independent stream per table, so resizing one table never
        # shifts the values of another
        rng = np.random.default_rng([seed, i])
        if name == "lineitem":
            table, extra = lineitem(rng, n)
        elif name == "orders":
            table, extra = orders(rng, n)
        elif name == "documents":
            table, extra = documents(rng, n, vocab)
        else:
            table, extra = embeddings(rng, n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        meta["rows"][name] = n
        meta.update({f"{name}_{k}": v for k, v in extra.items()})
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta
