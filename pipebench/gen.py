"""Seeded input generator for the pipeline benchmark.

Writes one parquet file per table (`<dir>/<table>.parquet`) with the column
names and types of the project's TPC-H-ish test tables (region, nation,
customer, supplier, part, orders, lineitem, documents). The same
(seed, scale) always gives byte-identical tables. Outputs are cached per
(workload, seed, scale) under the given cache directory; a `manifest.json`
in each directory records rows and bytes per table and marks it complete.

Documents carry stated duplicate shares: `EXACT_DUP_SHARE` of them copy an
earlier document's text verbatim and `NEAR_DUP_SHARE` copy one with the last
word replaced (word 3-gram Jaccard >= 0.9 for the lengths drawn here).
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10

# rows at scale 1.0; a workload's scale multiplies them
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "small", "cold", "bright", "dark", "smooth"]
PART_NOUN = ["ring", "bolt", "gear", "plate", "spring", "valve", "wheel"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
DAY_US = 86_400 * 1_000_000


def _ts(days_us):
    return pa.array(days_us, type=pa.timestamp("us"))


def _write(out_dir, name, table, manifest):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def star_tables(rng, scale):
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust = max(50, int(BASE_ROWS["customer"] * scale))
    n_supp = max(10, int(BASE_ROWS["supplier"] * scale))
    n_part = max(50, int(BASE_ROWS["part"] * scale))
    n_ord = max(200, int(BASE_ROWS["orders"] * scale))

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    retail = np.round(900.0 + (np.arange(n_part) % 2000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(retail)})

    o_date = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    l_linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * retail[l_part], 2)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(800.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(np.repeat(o_date, lines_per)
                          + rng.integers(1, 122, n_li) * DAY_US)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _vocab(rng, n):
    syl = ["ka", "lo", "mi", "ter", "on", "ra", "vu", "sen", "da", "pe",
           "qui", "tor", "ba", "nel", "si", "gor"]
    words = set()
    while len(words) < n:
        k = rng.integers(1, 4)
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def documents_table(rng, n_docs):
    """doc_id, text, lang, source, n_chars with stated duplicate shares."""
    shared = _vocab(rng, 400)
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    # each language also draws from its own small vocabulary, so the DSIR
    # importance score toward `en` separates the languages
    own = {i: [f"{LANGS[i]}{w}" for w in _vocab(rng, 60)] for i in range(len(LANGS))}
    kind = rng.random(n_docs)
    texts = []
    for i in range(n_docs):
        if i > 0 and kind[i] < EXACT_DUP_SHARE:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 0 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[rng.integers(0, i)].split(" ")
            words[-1] = "edit" + shared[rng.integers(0, len(shared))]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(15, 70))
        pick = rng.random(n_words)
        stop = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), n_words)]
        sh = np.array(shared)[rng.integers(0, len(shared), n_words)]
        ow = np.array(own[langs[i]])[rng.integers(0, 60, n_words)]
        words = np.where(pick < 0.08, stop, np.where(pick < 0.7, sh, ow))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[langs]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def generate(cache_dir, workload, tables, seed, scale, n_docs):
    """Return the directory holding `tables` for (workload, seed, scale),
    generating it first when absent. Prints rows and bytes per table."""
    key = f"{workload}-s{seed}-x{scale}-d{n_docs}"
    out_dir = os.path.join(cache_dir, key)
    manifest_path = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        rng = np.random.default_rng(seed)
        manifest = {}
        star = star_tables(rng, scale) if set(tables) - {"documents"} else {}
        for name in tables:
            t = documents_table(rng, n_docs) if name == "documents" else star[name]
            _write(out_dir, name, t, manifest)
        with open(manifest_path + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(manifest_path + ".tmp", manifest_path)
    with open(manifest_path) as f:
        manifest = json.load(f)
    for name in sorted(manifest):
        m = manifest[name]
        print(f"[pipebench] input {key}/{name}: {m['rows']} rows, "
              f"{m['bytes']} bytes", flush=True)
    return out_dir
