"""Deterministic synthetic corpus in graft's table layout.

The tables follow the schema of graft's test data: a TPC-H-like star
(region, nation, customer, supplier, part, orders, lineitem), an `events`
stream table, a `documents` text corpus with 5% planted near-duplicates,
and 64-dimensional unit `embeddings`, one parquet file each.

Usage as a module: `write_corpus(out_dir, sf, seed)`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ('join hash row batch scan column customer filter small slow merge '
         'order vector line table data agg value key stream window a spark '
         'part group big sort query fast the').split()
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
ADJ = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
NOUN = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
TYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
LANGS = ['en', 'de', 'es', 'fr', 'zh']
DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000      # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000    # 2024-01-01


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us):
    return pa.array(us, type=pa.timestamp('us'))


def documents(rng, n):
    """`n` documents; 5% repeat an earlier text with a ' dup' suffix."""
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + ' dup')
        else:
            k = int(rng.integers(10, 100))
            texts.append(' '.join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    lang = rng.choice(LANGS, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        'doc_id': ids,
        'text': texts,
        'lang': lang,
        'source': [f'src{i % 20}' for i in ids],
        'n_chars': np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        'vec_id': np.arange(n, dtype=np.int64),
        'embedding': pa.array(list(v), type=pa.list_(pa.float32())),
        'label': rng.integers(0, 10, n).astype(np.int32),
    })


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_ev = max(6000, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    out = {}
    out['region'] = pa.table({
        'r_regionkey': np.arange(5, dtype=np.int32),
        'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    out['nation'] = pa.table({
        'n_nationkey': np.arange(25, dtype=np.int32),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': (np.arange(25) % 5).astype(np.int32)})
    out['customer'] = pa.table({
        'c_custkey': np.arange(n_cust, dtype=np.int64),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': rng.integers(0, 25, n_cust).astype(np.int32),
        'c_acctbal': _cents(rng, -999.99, 9999.99, n_cust),
        'c_mktsegment': rng.choice(SEGMENTS, n_cust)})
    out['supplier'] = pa.table({
        's_suppkey': np.arange(n_supp, dtype=np.int64),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': rng.integers(0, 25, n_supp).astype(np.int32),
        's_acctbal': _cents(rng, -999.99, 9999.99, n_supp)})
    out['part'] = pa.table({
        'p_partkey': np.arange(n_part, dtype=np.int64),
        'p_name': [f'{a} {b}' for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        'p_brand': [f'Brand#{i}' for i in rng.integers(1, 26, n_part)],
        'p_type': rng.choice(TYPES, n_part),
        'p_size': rng.integers(1, 51, n_part).astype(np.int32),
        'p_retailprice': 900.0 + (np.arange(n_part) % 1000) / 10.0})
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    out['orders'] = pa.table({
        'o_orderkey': np.arange(n_ord, dtype=np.int64),
        'o_custkey': rng.integers(0, n_cust, n_ord).astype(np.int64),
        'o_orderstatus': rng.choice(['F', 'O', 'P'], n_ord),
        'o_totalprice': _cents(rng, 1000, 500000, n_ord),
        'o_orderdate': _ts(odate),
        'o_orderpriority': rng.choice(PRIORITIES, n_ord)})
    lok = np.sort(rng.integers(0, n_ord, n_line))
    out['lineitem'] = pa.table({
        'l_orderkey': lok.astype(np.int64),
        'l_partkey': rng.integers(0, n_part, n_line).astype(np.int64),
        'l_suppkey': rng.integers(0, n_supp, n_line).astype(np.int64),
        'l_linenumber': rng.integers(1, 8, n_line).astype(np.int32),
        'l_quantity': rng.integers(1, 51, n_line).astype(np.float64),
        'l_extendedprice': _cents(rng, 900, 105000, n_line),
        'l_discount': rng.integers(0, 11, n_line) / 100.0,
        'l_tax': rng.integers(0, 9, n_line) / 100.0,
        'l_returnflag': rng.choice(['A', 'N', 'R'], n_line),
        'l_linestatus': rng.choice(['F', 'O'], n_line),
        'l_shipdate': _ts(odate[lok] + rng.integers(1, 122, n_line) * DAY_US)})
    ets = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    out['events'] = pa.table({
        'event_id': np.arange(n_ev, dtype=np.int64),
        'ts': _ts(ets),
        'user_id': rng.integers(0, n_users, n_ev).astype(np.int64),
        'event_type': rng.choice(EVENT_TYPES, n_ev),
        'value': _cents(rng, 0.01, 490.0, n_ev),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out['documents'] = documents(rng, n_doc)
    out['embeddings'] = embeddings(rng, n_vec)
    return out


def write_corpus(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, f'{out_dir}/{name}.parquet')
