#!/usr/bin/env python3
"""Compare two graft.Verify dump directories query by query.

Usage: python3 tools/dumpdiff.py A B [query ...]

Each query's dump (`<dir>/<query>/*.parquet`) is read as a multiset of
rows: the column names must match, row order is ignored, and every value
must be equal exactly (doubles bit for bit, NaN equal to NaN). One line
per query: `same`, `DIFF <reason>` or `missing <side>`, then a summary.
Exit status 1 on any DIFF or missing dump.

tools/check.py hash-checks only the queries with a DuckDB oracle; this
covers the oracle-free (rows-only) ones too, so two trees can be shown
to produce the same output for every registered query. Queries default
to the union of both dumps' manifest.json `queries` lists.
"""
import collections, json, math, os, struct, sys

import pyarrow.parquet as pq


def names(d):
    return json.load(open(os.path.join(d, 'manifest.json')))['queries']


def canon(v):
    """A hashable, exact stand-in for one cell value."""
    if isinstance(v, float):
        return 'nan' if math.isnan(v) else struct.pack('>d', v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def load(path):
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    rows = zip(*(t.column(c).to_pylist() for c in cols)) if cols else []
    return cols, collections.Counter(tuple(canon(v) for v in r) for r in rows)


def compare(a, b, q):
    pa, pb = os.path.join(a, q), os.path.join(b, q)
    if not os.path.isdir(pa):
        return 'missing A'
    if not os.path.isdir(pb):
        return 'missing B'
    (ca, ra), (cb, rb) = load(pa), load(pb)
    if ca != cb:
        return f'DIFF columns {ca} vs {cb}'
    if ra != rb:
        na, nb = sum(ra.values()), sum(rb.values())
        only_a = sum((ra - rb).values())
        return f'DIFF rows {na} vs {nb}; {only_a} rows of A not in B'
    return 'same'


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    queries = only or sorted(set(names(a)) | set(names(b)))
    bad = 0
    for q in queries:
        r = compare(a, b, q)
        bad += r != 'same'
        print(f'{r.split()[0]:8s} {q}' + (f'  ({r})' if r != 'same' else ''))
    print(f'{len(queries) - bad}/{len(queries)} same')
    sys.exit(1 if bad else 0)


if __name__ == '__main__':
    main()
