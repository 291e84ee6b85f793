#!/usr/bin/env python3
"""Per-op Spark job counts and job-seconds of a traced perfbench run.

Reads a traced run's detail file (perfbench/out/<workload>_seed<n>_trace1.json)
and its spans (<workload>_seed<n>_spans.jsonl beside it), takes the first
traced pass (marts: the cold pass; ingest: the traced micro-batch) and
prints, per op, the jobs that started while `q.run` built the plan
(build) and the jobs of the result's write (write), each as a count and
as job-seconds (summed job wall time), then the totals. A job belongs to
the build when it starts no later than the build ends, the rule the
harness uses for `operators.build_jobs`.

Given two detail files (parent, then change) it prints both side by side
as "parent -> change" with the same ops matched by name.

Usage:
  python3 tools/opjobs.py DETAIL [DETAIL2]
  DETAIL is a traced perfbench detail file (*_trace1.json). Reads only.
"""
import argparse
import json
import os
import sys


def spans_path(detail):
    base = os.path.basename(detail)
    if not base.endswith('_trace1.json'):
        sys.exit(f'{detail}: not a traced detail file (*_trace1.json)')
    return os.path.join(os.path.dirname(detail), base[:-len('_trace1.json')] + '_spans.jsonl')


def op_jobs(detail):
    """{op name: (build jobs, build job-s, write jobs, write job-s)}, in op order."""
    with open(detail) as f:
        ops = json.load(f)['raw']['ops']
    traced = [r for r in ops if r['layers']]
    if not traced:
        sys.exit(f'{detail}: no traced op')
    first = (traced[0]['pass'], traced[0]['phase'])
    ops = {r['id']: r for r in traced if (r['pass'], r['phase']) == first}
    builds, jobs = {}, {i: [] for i in ops}
    with open(spans_path(detail)) as f:
        for line in f:
            s = json.loads(line)
            if s['op'] not in ops:
                continue
            if s['name'] == 'operators.build':
                builds[s['op']] = s['end']
            elif s['name'] == 'exec.job':
                jobs[s['op']].append(s)

    def sec(js):
        return sum(j['end'] - j['start'] for j in js) / 1000.0

    out = {}
    for i, r in ops.items():
        b = [j for j in jobs[i] if j['start'] <= builds[i]]
        w = [j for j in jobs[i] if j['start'] > builds[i]]
        out[r['op']] = (len(b), sec(b), len(w), sec(w))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('detail', nargs='+', help='traced detail file(s): one, or parent then change')
    a = ap.parse_args()
    if len(a.detail) > 2:
        ap.error('at most two detail files')
    runs = [op_jobs(d) for d in a.detail]
    names = list(runs[0]) + [n for n in runs[-1] if n not in runs[0]]
    cols = ('build_jobs', 'build_job_s', 'write_jobs', 'write_job_s')
    fmt = ('{}', '{:.2f}', '{}', '{:.2f}')

    def cell(k, vals):
        return ' -> '.join(fmt[k].format(v[k]) for v in vals)

    rows = [[n] + [cell(k, [r.get(n, (0, 0.0, 0, 0.0)) for r in runs]) for k in range(4)]
            for n in names]
    totals = [tuple(sum(v[k] for v in r.values()) for k in range(4)) for r in runs]
    rows.append(['total'] + [cell(k, totals) for k in range(4)])
    width = [max(len(x) for x in col) for col in zip(['op', *cols], *rows)]
    for row in [['op', *cols]] + rows:
        print('  '.join(x.ljust(w) if i == 0 else x.rjust(w)
                        for i, (x, w) in enumerate(zip(row, width))))


if __name__ == '__main__':
    main()
