#!/usr/bin/env python3
"""Deterministic generator for the ten inventory tables.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the schemas of
FIXTURES.md section 1. Row counts scale with `sf` the way the engine's
test data does: sf 0.001 has 6,000 lineitem rows, sf 0.01 has 60,000.
The same (sf, seed) pair always writes byte-identical files, so the
expected query results in expected.json stay valid.

    python3 perfbench/gen_tables.py <out_dir> [--sf 0.002] [--seed 42]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["cold", "large", "blue", "small", "red", "bright", "old", "green",
              "smooth", "heavy", "light", "dark"]
NOUNS = ["widget", "bolt", "rod", "gear", "valve", "panel", "spring", "nut",
         "frame", "tube", "plate", "screw"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("the fast key order sort table scan merge join hash stream batch file "
         "append read write log ring node leader task query plan shuffle state "
         "window event time sink source filter project count group index vector "
         "token model data line record commit replica store cache").split()
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "di",
             "fe", "go", "hu", "ji"]

MS_1992 = 694224000000   # 1992-01-01T00:00:00Z in ms
MS_1998 = 912470400000   # 1998-12-01T00:00:00Z in ms
US_2024 = 1704067200000000  # 2024-01-01T00:00:00 in us


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, sf=0.002, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = sf / 0.001
    n_cust, n_supp, n_part = int(150 * k), max(int(10 * k), 2), int(200 * k)
    n_ord, n_evt, n_doc, n_emb = int(1500 * k), int(1000 * k), int(500 * k), int(500 * k)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})

    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})

    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})

    pk = np.arange(1, n_part + 1, dtype=np.int64)
    price = np.round(900 + (pk % 200) + (pk % 1000) / 100.0, 2)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                                        rng.choice(NOUNS, n_part))]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, n_part),
                                                              rng.integers(1, 6, n_part))]),
        "p_type": pa.array([f"{a} {b} {c}" for a, b, c in zip(
            rng.choice(TYPE_A, n_part), rng.choice(TYPE_B, n_part), rng.choice(TYPE_C, n_part))]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})

    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = rng.integers(MS_1992 // 86400000, MS_1998 // 86400000, n_ord) * 86400000
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_ok = np.repeat(ok, lines_per)
    l_ln = np.concatenate([np.arange(1, c + 1) for c in lines_per]).astype(np.int32)
    l_pk = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_ext = np.round(l_qty * price[l_pk - 1], 2)
    l_disc = rng.integers(0, 11, n_li) / 100.0
    l_tax = rng.integers(0, 9, n_li) / 100.0
    l_ship = np.repeat(odate, lines_per) + rng.integers(1, 122, n_li) * 86400000
    cutoff = 803952000000  # 1995-06-23: items shipped later are still open
    l_status = np.where(l_ship > cutoff, "O", "F")
    l_flag = np.where(l_status == "O", "N", rng.choice(["A", "R"], n_li))
    o_total = np.round(np.bincount(np.repeat(np.arange(n_ord), lines_per),
                                   weights=l_ext * (1 - l_disc) * (1 + l_tax)), 2)
    any_open = np.bincount(np.repeat(np.arange(n_ord), lines_per), weights=(l_status == "O"))
    o_status = np.where(any_open == lines_per, "O", np.where(any_open == 0, "F", "P"))
    _write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(o_status),
        "o_totalprice": o_total,
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": l_qty,
        "l_extendedprice": l_ext,
        "l_discount": l_disc,
        "l_tax": l_tax,
        "l_returnflag": pa.array(l_flag),
        "l_linestatus": pa.array(l_status),
        "l_shipdate": pa.array(l_ship, pa.timestamp("ms"))})

    ts = np.sort(US_2024 + rng.integers(0, 29 * 86400 * 1000000, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(1, n_evt + 1, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(1, max(n_evt // 10, 2) + 1, n_evt).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt, p=[.35, .05, .1, .05, .45])),
        "value": np.round(rng.uniform(0.03, 327.53, n_evt), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_evt)])})

    # A Zipf-weighted vocabulary: common words repeat across documents
    # while most word sets stay distinct, so near-duplicate pairs come
    # from the planted copies, not from a tiny vocabulary.
    vocab = WORDS + [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES[:4]]
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.1:      # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.2:    # near duplicate: one word swapped
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab, p=weights))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 60)), p=weights)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(1, n_doc + 1, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = (centers[label] + rng.normal(0, 0.3, (n_emb, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(1, n_emb + 1, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.002)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out_dir, a.sf, a.seed)
