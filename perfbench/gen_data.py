#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

    python3 perfbench/gen_data.py --scale 0.1 --seed 42 --out DIR
    python3 perfbench/gen_data.py --scale 1 --seed 7 --out DIR

Writes the ten engine tables (region nation customer supplier part
orders lineitem events documents embeddings) as one parquet file each.

scale 0.1 builds the base tier from scratch with numpy. Its shapes
follow the engine's sf0.1 test corpus: 600k lineitem rows, 30-word
document vocabulary, 250 "dup"-suffixed near-duplicates, 64-dim unit
embeddings, 100k time-ordered events. Timestamps are parquet
TIMESTAMP(MICROS) without time zone, as in that corpus.

scale 1 follows tools/gen_sf1.py + tools/gen_sf1_rel.py:
- documents: the sf0.1 near-dup family histogram replicated 10x plus
  two beyond-cap mega-families (2,000 and 2,500), 1-3 word
  substitutions per near-dup, base-tier vocabulary; family lengths
  come from a fixed quantile grid of the base-tier lengths, so the
  total word count is the same for every seed;
- embeddings: 20,000 64-dim vectors with 600 planted clusters of 4;
- relational tables: the base tier replicated 10x with disjoint key
  ranges (no randomness).
The scale-1 text and vectors take their randomness from --seed; the
base tier it derives from is always the seed-42 scale-0.1 tier.

Output is written to a temporary directory and renamed into place, so
an interrupted run never leaves a half-written tier behind. Each tier
has a MANIFEST.json with the SHA-1 of every table file, which keys the
runner's cache of oracle results.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "green", "hot", "large", "new", "red", "small", "steel"]
NOUNS = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "screw"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# tools/gen_sf1.py: near-dup family size histogram of the sf0.1 corpus
HIST = {1: 89, 2: 38, 3: 14, 4: 15, 5: 10, 6: 8, 7: 5, 8: 10, 9: 10, 10: 7,
        11: 4, 12: 2, 13: 2, 15: 2, 16: 1, 17: 5, 18: 2, 21: 2, 22: 1, 25: 1,
        27: 1, 30: 1, 31: 1, 33: 1, 34: 1, 36: 1, 42: 1, 43: 1, 44: 1, 47: 1,
        60: 2, 63: 1, 66: 1, 68: 1, 76: 3, 81: 1, 86: 1, 87: 1, 88: 1, 90: 1,
        94: 1, 100: 1, 104: 1, 121: 1, 133: 1, 151: 1, 165: 1, 173: 1,
        190: 1, 194: 1, 197: 1, 239: 1, 240: 1, 250: 1, 315: 1}

# tools/gen_sf1_rel.py: one decade above each base key space
OFFSETS = {"l_orderkey": 10_000_000, "o_orderkey": 10_000_000,
           "l_partkey": 100_000, "p_partkey": 100_000,
           "l_suppkey": 10_000, "s_suppkey": 10_000,
           "o_custkey": 100_000, "c_custkey": 100_000,
           "event_id": 1_000_000, "user_id": 100_000}
REPLICATED = ["lineitem", "orders", "customer", "supplier", "part", "events"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

US_PER_DAY = 86_400_000_000


def _days_us(start, n_days, size, rng):
    t0 = int(np.datetime64(start, "us").astype(np.int64))
    return t0 + rng.integers(0, n_days, size=size) * US_PER_DAY


def _ts(values_us):
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size=size), 2)


def base_tables(seed):
    """The scale-0.1 tier as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk), "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})

    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(COLORS)[rng.integers(0, 8, n_part)], " "),
                        np.array(NOUNS)[rng.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days_us("1995-01-01", 2404, n_ord, rng)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days_us("1995-01-02", 2498, n_li, rng))})

    n_ev = 100_000
    t0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64), "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = 5_000
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 250 near-duplicates: an earlier doc plus a trailing " dup" marker;
    # 8 exact duplicates
    for i in rng.choice(np.arange(1, n_doc), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_doc), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    did = np.arange(n_doc, dtype=np.int64)
    t["documents"] = pa.table({
        "doc_id": did, "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": np.char.add("src", (did % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    n_vec, dim = 2_000, 64
    v = rng.normal(size=(n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32))})
    return t


def sf1_text_tables(base, seed):
    """tools/gen_sf1.py's documents + embeddings, seeded by `seed`."""
    rng = np.random.default_rng(seed)
    bdocs = base["documents"].to_pydict()
    vocab = sorted({w for x in bdocs["text"] for w in x.split(" ") if w})
    wc = [len(x.split(" ")) for x in bdocs["text"]]
    # Family lengths: each size class deals out a fixed quantile grid of
    # the base-tier lengths in seeded order (the mega-families get the
    # median), so the word count -- the work -- is the same for every
    # seed while which text sits in which family is not.
    wc = np.sort(np.array(wc))
    families = [(2000, int(np.median(wc))), (2500, int(np.median(wc)))]
    for size, n in HIST.items():
        grid = wc[((np.arange(n * 10) + 0.5) / (n * 10) * len(wc)).astype(int)]
        families += [(size, int(x)) for x in rng.permutation(grid)]
    families = [families[i] for i in rng.permutation(len(families))]
    vocab_arr = np.array(vocab)
    texts, lang, src = [], [], []
    for size, n_words in families:
        base_words = list(vocab_arr[rng.integers(0, len(vocab), int(n_words))])
        lg, sr = LANGS[int(rng.integers(0, 5))], f"src{int(rng.integers(0, 20))}"
        for k in range(size):
            d = list(base_words)
            if k > 0:
                for _ in range(int(rng.integers(1, 4))):
                    d[int(rng.integers(0, len(d)))] = vocab_arr[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(d))
            lang.append(lg)
            src.append(sr)
    order = rng.permutation(len(texts))
    docs = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [texts[i] for i in order],
        "lang": [lang[i] for i in order],
        "source": [src[i] for i in order],
        "n_chars": np.array([len(texts[i]) for i in order], dtype=np.int64)})

    m, dim, n_clusters = 20_000, 64, 600
    bases = rng.normal(size=(n_clusters, dim)).astype(np.float32)
    vecs = rng.normal(size=(m, dim)).astype(np.float32)
    labels = rng.integers(0, 10, m).astype(np.int32)
    planted = np.arange(n_clusters * 4)
    vecs[planted] = bases[planted % n_clusters] + \
        rng.normal(scale=0.05, size=(len(planted), dim)).astype(np.float32)
    labels[planted] = (planted % n_clusters) % 10
    emb = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})
    return {"documents": docs, "embeddings": emb}


def replicate(table, n=10):
    """tools/gen_sf1_rel.py: n key-disjoint copies of a base table."""
    parts = []
    for r in range(n):
        cols = {}
        for name in table.column_names:
            col = table.column(name)
            if name in OFFSETS:
                col = pc.add(col, pa.scalar(r * OFFSETS[name], col.type))
            cols[name] = col
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def _sha1(path):
    h = hashlib.sha1()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def write_tier(tables, out, linked=None):
    """Write `tables` (and hard-link the already written `linked`
    files) into `out`, with MANIFEST.json mapping each table to the
    SHA-1 of its file."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {}
    for name, tab in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tab, path)
        manifest[name] = _sha1(path)
    for name, (src, digest) in (linked or {}).items():
        os.link(src, os.path.join(tmp, f"{name}.parquet"))
        manifest[name] = digest
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def generate(scale, seed, out):
    """Write the (scale, seed) tier to `out`. Scale-1 relational tables
    do not depend on the seed: they are written once, to a sibling
    `sf1-relational` directory, and hard-linked into every scale-1 tier."""
    if scale == "0.1":
        write_tier(base_tables(seed), out)
        return
    if scale != "1":
        raise SystemExit(f"unknown scale {scale!r} (0.1 or 1)")
    rel = os.path.join(os.path.dirname(os.path.abspath(out)), "sf1-relational")
    base = None
    if not os.path.isdir(rel):
        base = base_tables(BASE_SEED)
        write_tier({n: (replicate(base[n]) if n in REPLICATED else base[n])
                    for n in TABLES if n not in ("documents", "embeddings")}, rel)
    with open(os.path.join(rel, "MANIFEST.json")) as f:
        manifest = json.load(f)
    linked = {n: (os.path.join(rel, f"{n}.parquet"), d) for n, d in manifest.items()}
    if base is None:
        base = {"documents": base_tables(BASE_SEED)["documents"]}
    write_tier(sf1_text_tables(base, seed), out, linked)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--scale", required=True, choices=["0.1", "1"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t0 = time.perf_counter()
    generate(a.scale, a.seed, a.out)
    print(f"generated scale {a.scale} seed {a.seed} in "
          f"{time.perf_counter() - t0:.2f} s -> {a.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
