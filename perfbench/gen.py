"""Seeded generators for the benchmark's parquet inputs.

The tables follow the shape of the engine's TPC-H-like fixtures (same
table and column names, types and value domains), so the registered
queries and their DuckDB oracles run on them unchanged. Every table is a
pure function of (seed, scale): the same arguments write byte-identical
values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("the a of and in to data spark stream batch table column row key "
         "value join filter group sort merge scan hash window query order "
         "part line customer vector agg fast slow big small").split()

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000      # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(out_dir, seed, scale):
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_li = max(10, int(6_000_000 * scale))
    n_ev = max(10, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjectives = np.array(["small", "red", "blue", "large", "green", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(
            adjectives[rng.integers(0, 6, n_part)], " "),
            nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"])[
            rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US
                           + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", lineitem(rng, n_li, n_ord, n_part, n_supp))
    ev_ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 200.0, n_ev),
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, n_ev).astype(str)),
                             "}")})


def lineitem(rng, n, n_ord, n_part, n_supp):
    """lineitem columns as a dict; l_shipdate is timestamp[us]."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": rng.integers(0, n_ord, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n) * DAY_US)}


def documents(out_dir, seed, n_docs, order_seed):
    """The curation corpus: random-vocabulary documents with planted exact
    duplicates and one-token near-duplicates, so every dedup stage of the
    chain has work. Content depends on `seed` only; `order_seed` permutes
    the row order, which must not change any result."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts, originals = [], []
    for i in range(n_docs):
        r = rng.random()
        # copies are made of original documents only, so every near-dup
        # component is a star and the components' depth, which sets the
        # number of connected-components rounds, is the same for any seed
        if len(originals) > 10 and r < 0.04:    # exact duplicate
            texts.append(texts[originals[rng.integers(0, len(originals))]])
        elif len(originals) > 10 and r < 0.14:  # one token replaced
            toks = texts[originals[rng.integers(0, len(originals))]].split(" ")
            toks[rng.integers(0, len(toks))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
        else:
            n_tok = int(rng.integers(12, 90))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_tok)]))
            originals.append(i)
    doc_id = np.arange(n_docs, dtype=np.int64)
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]
    source = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    perm = np.random.default_rng(order_seed).permutation(n_docs)
    texts = np.array(texts, dtype=object)
    _write(out_dir, "documents", {
        "doc_id": doc_id[perm],
        "text": pa.array(list(texts[perm]), type=pa.string()),
        "lang": lang[perm],
        "source": source[perm],
        "n_chars": np.array([len(t) for t in texts[perm]], dtype=np.int64)})


def keyed_lineitem(out_dir, seed, scale):
    """lineitem plus `l_key`, a unique key that ascends in row order."""
    rng = np.random.default_rng(seed)
    n = max(1000, int(6_000_000 * scale))
    cols = lineitem(rng, n, max(10, int(1_500_000 * scale)),
                    max(10, int(200_000 * scale)), max(10, int(10_000 * scale)))
    _write(out_dir, "lineitem", {"l_key": np.arange(n, dtype=np.int64), **cols})
