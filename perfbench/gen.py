"""Seeded input generator for the graft benchmark.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files. Each table is one parquet file with one row
group, like the engine's reference test data.

    python3 perfbench/gen.py WORKLOAD SEED OUT_DIR
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload (see README.md for why each size was chosen).
SIZES = {
    "sql_tpch": {"sf": 0.01},
    "curation_batch": {"docs": 300, "planted_share": 0.3, "hub": 12},
    "dedup_incremental": {"docs": 400, "planted_share": 0.3, "hub": 12,
                          "batches": 40, "batch_fresh": 75, "batch_copies": 25},
}

# The reference corpus's vocabulary: 30 words drawn uniformly, 10-100 per doc.
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
THRESHOLD = 0.7
# Near-copy edit fraction range: about 60% of copies stay at or above the
# 0.7 char-3-gram Jaccard threshold against their base, the rest fall below.
EDIT_FRACTION = (0.05, 0.8)
# Cluster sizes besides the hub (base doc + copies).
CLUSTER_SIZES = [2, 2, 2, 3, 3, 4, 5, 6, 8]


def rng(seed, *stream):
    """An independent generator per (seed, stream), so one input's draws
    never shift another's."""
    return np.random.default_rng([seed, *stream])


def write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


# ---------------------------------------------------------------- TPC-H

def tpch(seed, sf):
    """The engine's TPC-H-ish star schema (no partsupp; narrow orders and
    lineitem), with the value domains its q_tpch_* texts filter on."""
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": regions}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    r = rng(seed, 3)
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod"]
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(adj, n_part), r.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    r = rng(seed, 4)
    day0 = np.datetime64("1995-01-01")
    odate = day0 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = rng(seed, 5)
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    lkey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = np.repeat(odate, lines) + r.integers(1, 122, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    return out


# ---------------------------------------------------------------- corpus

def random_doc(r):
    return " ".join(r.choice(VOCAB, int(r.integers(10, 101))))


def near_copy(r, text):
    """Word-level substitutions, insertions and deletions over a seeded share
    of the words."""
    words = text.split(" ")
    frac = r.uniform(*EDIT_FRACTION)
    for _ in range(max(1, round(frac * len(words)))):
        op, pos = int(r.integers(3)), int(r.integers(len(words)))
        if op == 0:
            words[pos] = str(r.choice(VOCAB))
        elif op == 1:
            words.insert(pos, str(r.choice(VOCAB)))
        elif len(words) > 2:
            del words[pos]
    return " ".join(words)


def grams(text):
    return {text[i:i + 3] for i in range(len(text) - 2)}


def jaccard(a, b):
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def docs_table(ids, texts, seed, stream):
    r = rng(seed, stream)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, len(ids), p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def corpus(seed, docs, planted_share, hub):
    """Random docs with a seeded share replaced by planted near-copy
    clusters: one hub cluster plus small clusters until the share is used.
    Returns the texts and the planted (copy index, base index) pairs."""
    r = rng(seed, 10)
    texts = [random_doc(r) for _ in range(docs)]
    budget = round(planted_share * docs)
    sizes = [hub]
    while sum(s - 1 for s in sizes) < budget:
        sizes.append(int(r.choice(CLUSTER_SIZES)))
    slots = r.permutation(docs)
    copies, at = [], 0
    for size in sizes:
        base, members = slots[at], slots[at + 1:at + size]
        at += size
        for m in members:
            texts[m] = near_copy(r, texts[base])
            copies.append((int(m), int(base)))
    return texts, copies, sizes


def planted_stats(texts, copies, sizes):
    return {
        "docs": len(texts),
        "planted_copies": len(copies),
        "planted_share": round(len(copies) / len(texts), 4),
        "copies_at_or_above_threshold": round(
            sum(jaccard(texts[c], texts[b]) >= THRESHOLD for c, b in copies)
            / max(1, len(copies)), 4),
        "cluster_sizes": {str(s): sizes.count(s) for s in sorted(set(sizes))},
    }


def generate(workload, seed, out):
    """Writes the workload's inputs under `out` and returns their stats."""
    os.makedirs(out, exist_ok=True)
    size = SIZES[workload]
    if workload == "sql_tpch":
        tables = tpch(seed, size["sf"])
        for name, t in tables.items():
            write(t, f"{out}/{name}.parquet")
        stats = {"sf": size["sf"], "rows": {n: t.num_rows for n, t in tables.items()}}
    elif workload == "curation_batch":
        texts, copies, sizes = corpus(seed, size["docs"], size["planted_share"], size["hub"])
        write(docs_table(list(range(len(texts))), texts, seed, 11), f"{out}/documents.parquet")
        stats = planted_stats(texts, copies, sizes)
    else:
        texts, copies, sizes = corpus(seed, size["docs"], size["planted_share"], size["hub"])
        write(docs_table(list(range(len(texts))), texts, seed, 11), f"{out}/initial.parquet")
        stats = {"index": planted_stats(texts, copies, sizes)}
        os.makedirs(f"{out}/batches", exist_ok=True)
        per = size["batch_fresh"] + size["batch_copies"]
        batch_copies = []
        for b in range(size["batches"]):
            r = rng(seed, 100 + b)
            fresh = [random_doc(r) for _ in range(size["batch_fresh"])]
            bases = r.integers(0, len(texts), size["batch_copies"])
            near = [near_copy(r, texts[i]) for i in bases]
            batch_copies += [(t, texts[i]) for t, i in zip(near, bases)]
            order = r.permutation(per)
            btexts = [(fresh + near)[i] for i in order]
            ids = [len(texts) + b * per + j for j in range(per)]
            write(docs_table(ids, btexts, seed, 200 + b), f"{out}/batches/batch_{b:04d}.parquet")
        stats["batches"] = {
            "count": size["batches"], "docs_per_batch": per,
            "copy_share": round(size["batch_copies"] / per, 4),
            "copies_at_or_above_threshold": round(
                sum(jaccard(c, t) >= THRESHOLD for c, t in batch_copies) / len(batch_copies), 4)}
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(stats, f, sort_keys=True)
    return stats


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
