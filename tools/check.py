#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool, not part of the
shipped library): run graft.Verify at a given SF, execute each oracle SQL in
DuckDB over the same parquet tables, and compare result sets exactly.

Usage: python3 tools/check.py [sfdir] [--no-verify] [query ...]

CAVEAT — DuckDB-version sensitivity (the r10 q_dsir_select lesson): this
gate runs whatever duckdb is installed locally; the driver runs its own
build, possibly against a different libm. A hash gate is only portable if
the gated columns are EXACT (integer/decimal arithmetic, IEEE division of
exact ints, string ops). `round()` composed over a transcendental
(ln/exp/pow) puts a value within an ulp of a .5 grid boundary on some
platforms and NOT others — it can pass here and fail the driver. The lint
below fails the gate on that pattern before the driver ever sees it.
"""
import argparse, json, sys, subprocess, glob, os

import duckdb
import pandas as pd
import numpy as np

ap = argparse.ArgumentParser(description=__doc__)
ap.add_argument('sfdir', nargs='?', default='/root/testdata/sf0.01',
                help='test-data directory of parquet tables')
ap.add_argument('queries', nargs='*', metavar='query',
                help='check only these query names')
ap.add_argument('--no-verify', action='store_true',
                help='reuse the existing /tmp/graft_verify dump')
args = ap.parse_args()
# `check.py <query>` (query in position 1) should not be read as a dir.
# Only a bare name (no path separator) is reclassified as a query; a
# path-looking arg that doesn't exist is an ERROR — reclassifying it
# would filter on a nonexistent "query" and print a green gate that
# checked nothing.
if not os.path.isdir(args.sfdir):
    if os.sep not in args.sfdir:
        args.queries.insert(0, args.sfdir)
        args.sfdir = '/root/testdata/sf0.01'
    else:
        sys.exit(f'error: sfdir {args.sfdir!r} does not exist')
if not os.path.isdir(args.sfdir):
    sys.exit(f'error: sfdir {args.sfdir!r} does not exist')

SF = args.sfdir
OUT = '/tmp/graft_verify'
ONLY = args.queries

if not args.no_verify:
    r = subprocess.run(['sbt', '-batch', f'runMain graft.Verify {SF} {OUT}'],
                       capture_output=True, text=True, cwd='/root/repo')
    if 'success' not in r.stdout:
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)
    for line in r.stdout.splitlines():
        if '[verify]' in line:
            print(line)

con = duckdb.connect()
for p in glob.glob(f'{SF}/*.parquet'):
    name = os.path.basename(p).replace('.parquet', '')
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f'{OUT}/oracle_sql.json'))
# Verify's manifest: every registered query and the ones that threw. A
# failed query is a gate failure even though Verify itself exits green,
# and every registered query must have a dump from THIS run (Verify
# deletes each query's old dump before running it), oracle-free ones
# included — a missing dump is never "nothing to compare".
try:
    manifest = json.load(open(f'{OUT}/manifest.json'))
except FileNotFoundError:
    sys.exit(f'error: {OUT}/manifest.json missing — rerun without --no-verify')
registered, verify_failed = manifest['queries'], set(manifest['failed'])

# Lint: an oracle that rounds a transcendental onto a grid is
# environment-dependent (libm last-bit differences flip HALF_UP at .5
# boundaries) — ban it outright (graft.Num discipline). sqrt is exempt:
# IEEE 754 requires it correctly rounded, so it IS portable.
import re
def _round_over_transcendental(sql):
    s, hits = sql.lower(), []
    for m in re.finditer(r'\bround\s*\(', s):
        depth, i = 1, m.end()
        while i < len(s) and depth:
            depth += {'(': 1, ')': -1}.get(s[i], 0)
            i += 1
        arg = s[m.end():i]
        if re.search(r'\b(ln|log|log2|log10|exp|pow|power|sin|cos|tan|atan2?)\s*\(', arg):
            hits.append(arg[:80].replace('\n', ' '))
    return hits

lint_fails = []
for name, sql in sorted(oracle.items()):
    if ONLY and name not in ONLY:
        continue
    for h in _round_over_transcendental(sql):
        print(f'LINT {name}: round() over a transcendental in the oracle '
              f'(non-portable hash): round({h}…')
        lint_fails.append(name)
# a requested name must be a registered query — otherwise the filter
# silently checks nothing and the gate lies green
for q in ONLY:
    if q not in registered:
        sys.exit(f'error: unknown query name {q!r}; known: {sorted(registered)}')
# oracle-free queries: not hash-checked here, but each must have dumped
rows_only, dump_fails = 0, []
for name in sorted(set(registered) - set(oracle)):
    if ONLY and name not in ONLY:
        continue
    rows_only += 1
    if name in verify_failed:
        print(f'FAIL {name}: Verify reported the query failed'); dump_fails.append(name)
    elif not glob.glob(f'{OUT}/{name}/*.parquet'):
        print(f'FAIL {name}: no spark output'); dump_fails.append(name)
fails, checked = [], 0
for name, sql in sorted(oracle.items()):
    if ONLY and name not in ONLY:
        continue
    checked += 1
    spark_dir = f'{OUT}/{name}'
    if name in verify_failed:
        print(f'FAIL {name}: Verify reported the query failed'); fails.append(name); continue
    if not glob.glob(f'{spark_dir}/*.parquet'):
        print(f'FAIL {name}: no spark output'); fails.append(name); continue
    try:
        got = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
        want = con.execute(sql).df()
    except Exception as e:
        print(f'FAIL {name}: {e}'); fails.append(name); continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f'FAIL {name}: columns {gc} vs {wc}'); fails.append(name); continue
    got, want = got[gc], want[wc]
    if len(got) != len(want):
        print(f'FAIL {name}: rows {len(got)} vs {len(want)}'); fails.append(name); continue
    g = got.sort_values(gc, kind='mergesort').reset_index(drop=True)
    w = want.sort_values(wc, kind='mergesort').reset_index(drop=True)
    bad = []
    for c in gc:
        a, b = g[c], w[c]
        if a.dtype.kind == 'f' or b.dtype.kind == 'f':
            a, b = a.astype('float64'), b.astype('float64')
            eq = (a == b) | (a.isna() & b.isna())
        else:
            eq = (a.astype(object).where(pd.notna(a), None)
                  == b.astype(object).where(pd.notna(b), None)) | (a.isna() & b.isna())
        if not bool(eq.all()):
            i = int((~eq).idxmax())
            bad.append(f'{c}[row {i}]: {g[c][i]!r} vs {w[c][i]!r} '
                       f'(dtypes {got[c].dtype}/{want[c].dtype}, {int((~eq).sum())} diffs)')
    if bad:
        print(f'FAIL {name}: ' + ' | '.join(bad[:3])); fails.append(name)
    else:
        print(f'ok   {name} ({len(got)} rows)')

# the summary reports what was actually CHECKED, not the oracle count —
# a filtered run must not print a registry-wide green. Lint failures are
# reported SEPARATELY: a query that matched its oracle but trips the
# portability lint must not read as a comparison failure (ADVICE r11),
# though either kind still exits 1.
summary = f'\n{checked - len(fails)}/{checked} matched'
summary += f'; {rows_only - len(dump_fails)}/{rows_only} rows-only dumps present'
if fails:
    summary += f'; FAILURES: {fails}'
if dump_fails:
    summary += f'; ROWS-ONLY FAILURES: {dump_fails}'
if lint_fails:
    summary += f'; LINT FAILURES: {sorted(set(lint_fails))}'
print(summary)
sys.exit(1 if (fails or dump_fails or lint_fails) else 0)
