#!/usr/bin/env python3
"""graft benchmark: one workload run, outputs checked, metrics printed.

Usage (from the repository root):
    python3 perfbench/run.py --workload marts|ingest --seed N \
        --seconds S --trace 0|1

Builds graft and the harness from source (sbt, offline) on first use,
generates the workload's inputs, runs the harness JVM on local[nproc] as
one closed-loop client (one op in flight), checks every written output
against its DuckDB oracle (q_ann_lsh by recall@k against the exact
top-k oracle), and prints one JSON line last: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The full record of the run,
host load and steal included, goes to perfbench/out/.
perfbench/README.md defines the workloads and metrics.

A run's work is fixed per workload, so that every run measures the same
thing; --seconds is recorded with the result, not used to size the work.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, 'harness')
CACHE = os.path.join(HERE, '.cache')
OUT = os.path.join(HERE, 'out')

sys.dont_write_bytecode = True   # the run leaves no files beside its sources
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

CORPUS_SEED = 20240101        # ingest's corpus; --seed sets its split into batches
WORKLOADS = {
    # the paper's dbt surface (staging, star join, marts, data tests,
    # analyses, ELT matching) plus the `dbt build` pipeline gate, run as a
    # pipeline run: every op's first execution, in a fresh session, in
    # graft's registry order (the harness lists the ops); --seed generates
    # the corpus
    'marts': dict(sf=0.01, warmup='q_stg_projection'),
    # an artifact serve under streaming appends: each set-up fits the LSH
    # index cold; then micro-batches go through the ANN index sink, each
    # followed by a re-serve of q_ann_lsh on the grown index
    'ingest': dict(vecs=2000, start_share=0.75, warmup='q_ann_lsh'),
}
CYCLES = 4                    # ingest micro-batches per run; the traced run traces the next-to-last
# approximate op -> the exact op whose DuckDB oracle is its recall reference
ANN_APPROX = {'q_ann_lsh': 'q_ann_topk'}
RECALL_FLOOR = 0.8            # graft.ScaleRecall's floor
JVM_HEAP = '3g'
JVM_TIMEOUT_S = 165


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build ----

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project', 'build.properties'),
             os.path.join(HARNESS, 'build.sbt'), os.path.join(HARNESS, 'project', 'build.properties')]
    for d in (os.path.join(ROOT, 'src', 'main'), os.path.join(HARNESS, 'src')):
        files += sorted(glob.glob(os.path.join(d, '**', '*'), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, 'rb') as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles graft and the harness when their sources changed; returns
    the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(CACHE, 'classpath.txt')
    stamp_file = os.path.join(CACHE, 'stamp.txt')
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(':')):
                return cp
    log('building graft and the harness (sbt, offline)')
    tmp = os.path.join(CACHE, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    env['SBT_OPTS'] = (env.get('SBT_OPTS', '-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g')
                       + f' -Djava.io.tmpdir={tmp}')
    r = subprocess.run(['sbt', '-batch', '-Dsbt.log.noformat=true', 'export Runtime/fullClasspath'],
                       cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith('[')]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit('perfbench: build failed')
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, 'w') as f:
        f.write(lines[-1])
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    return lines[-1]


JDK_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')]


# ---------------------------------------------------------------- inputs ---

def view(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def marts_inputs(work, spec, seed):
    corpus = os.path.join(work, 'corpus')
    gen.write_corpus(corpus, spec['sf'], seed)
    views = {os.path.basename(p)[:-len('.parquet')]: view(p)
             for p in glob.glob(os.path.join(corpus, '*.parquet'))}
    return corpus, [('b0', views)], []


def ingest_inputs(work, spec, seed):
    """The seeded start share of the embeddings is the backfill partition
    of the streamed table; the rest is split into seeded micro-batches.
    Returns the corpus, one DuckDB view set per corpus state (before any
    batch, after batch 1, ...), and the harness arguments."""
    corpus = os.path.join(work, 'corpus')
    t = gen.embeddings(np.random.default_rng(CORPUS_SEED), spec['vecs'])
    perm = np.random.default_rng(seed).permutation(t.num_rows)
    n0 = int(t.num_rows * spec['start_share'])
    parts = [perm[:n0]] + np.array_split(perm[n0:], CYCLES)
    d = os.path.join(corpus, 'embeddings.parquet', 'data', 'batch_id=-1')
    os.makedirs(d)
    pq.write_table(t.take(np.sort(parts[0])), os.path.join(d, 'part-00000.parquet'))
    states = []
    for k in range(CYCLES + 1):
        if k:
            bd = os.path.join(work, 'batches', f'batch_{k}')
            os.makedirs(bd)
            pq.write_table(t.take(parts[k]), os.path.join(bd, 'embeddings.parquet'))
        vd = os.path.join(work, 'views', f'b{k}', 'embeddings.parquet')
        os.makedirs(os.path.dirname(vd))
        pq.write_table(t.take(np.sort(np.concatenate(parts[:k + 1]))), vd)
        states.append((f'b{k}', {'embeddings': view(vd)}))
    return corpus, states, [f'batches={work}/batches']


# ---------------------------------------------------------------- checks ---

def check_outputs(res, out_dir, oracle_sql, states):
    """Checks every written output against the corpus state it was served
    on (`<out_dir>/<state>/<phase><pass>/<op>`). Returns {where: reason}
    for every failed op or wrong output, and the number of outputs
    checked."""
    failures, n = {}, 0
    for state, views in states:
        con = check.connect(views)
        for path in sorted(glob.glob(os.path.join(out_dir, state, '*', '*'))):
            n += 1
            op = os.path.basename(path)
            label = os.path.relpath(path, out_dir)
            try:
                if op in oracle_sql:
                    want = check.digest(con, oracle_sql[op])
                    got = check.digest(con, check.output_sql(path))
                    if want != got:
                        failures[label] = f'oracle mismatch: rows {got[0]} vs {want[0]}'
                elif op in ANN_APPROX:
                    r = check.recall(con, path, oracle_sql[ANN_APPROX[op]])
                    if r < RECALL_FLOOR:
                        failures[label] = f'recall {r:.3f} < {RECALL_FLOOR}'
                elif check.count(con, path) == 0:
                    failures[label] = 'empty output'
            except Exception as e:  # an unreadable output is a wrong output
                failures[label] = f'check error: {e}'[:300]
        con.close()
    for r in res['ops']:
        if r['error'] is not None:
            failures[f"{r['phase']}{r['pass']}/{r['op']}"] = r['error']
    return failures, n


# ---------------------------------------------------------------- metrics --

def quantile(values, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted average of
    all order statistics, much less jumpy than one order statistic when a
    few dozen heterogeneous op latencies are the sample."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(edges), x))


def tail(values):
    """The highest percentile with at least ten samples beyond it: value,
    percentile, sample count. Below eleven samples no percentile has ten
    beyond it; the tail is then the upper quartile, which one slow sample
    (a host stall during one of ingest's four serves) does not set alone."""
    n = len(values)
    p = (n - 10) / n if n > 10 else 0.75
    return quantile(values, p), 100.0 * p, n


def measured(res, workload):
    """The measured passes and their ops: marts' cold pass; ingest's
    untraced micro-batch cycles."""
    if workload == 'marts':
        passes = [p for p in res['passes'] if p['phase'] == 'cold']
    else:
        passes = [p for p in res['passes'] if p['traced'] is False]
    ids = {p['pass'] for p in passes}
    phase = passes[0]['phase']
    return passes, [r for r in res['ops'] if r['phase'] == phase and r['pass'] in ids]


def end_to_end(res, workload):
    passes, ops = measured(res, workload)
    walls = [r['wall_s'] for r in ops]
    warmup = [r['wall_s'] for r in res['ops'] if r['phase'] == 'setup']
    t, pct, n = tail(walls)
    return {
        'setup_s': statistics.median(res['setup_s']),
        'pass_s': statistics.median(p['wall_s'] for p in passes),
        'query_p50_s': quantile(walls, 0.5),
        'query_tail_s': t,
        'cpu_s': statistics.median(p['cpu_s'] for p in passes),
        'peak_rss_mb': res['peak_rss_mb'],
    }, {'query_tail_percentile': pct, 'query_samples': n,
        'setup_warmup_op_s': statistics.median(warmup)}


LAYER_OP_KEYS = [
    'operators.build_jobs', 'planner.analysis_s', 'planner.optimize_s', 'planner.physical_s',
    'exec.jobs', 'exec.stages', 'exec.tasks', 'exec.extra_jobs', 'exec.task_overhead_s',
    'exec.task_cpu_s', 'exec.input_rows', 'exec.shuffle_write_mb', 'exec.shuffle_read_mb',
    'exec.spill_mb', 'driver.no_job_s']
SELF_LAYERS = {'operators.build': 'operators.self_s', 'sink.write': 'sink.self_s',
               'planner': 'planner.self_s', 'exec': 'exec.self_s'}


def per_layer(res, workload):
    """Sums over the traced measured pass (marts: the cold pass; ingest:
    micro-batch CYCLES - 1); artifact counters cover the index the run ends with
    (the last set-up's fit and every append)."""
    pid, phase = (1, 'cold') if workload == 'marts' else (CYCLES - 1, 'batch')
    ops = [r for r in res['ops'] if r['phase'] == phase and r['pass'] == pid]

    def total(key):
        return sum(r['layers'].get(key, 0.0) for r in ops)
    wall = sum(r['wall_s'] for r in ops)
    m = {'operators.build_s': sum(r['build_s'] for r in ops)}
    for k in LAYER_OP_KEYS:
        m[k] = total(k)
    m['exec.busy_cores'] = total('exec.task_run_s') / wall
    m['driver.gc_s'] = sum(r['gc_s'] for r in ops)
    for layer, name in SELF_LAYERS.items():
        m[name] = total(f'self.{layer}')
    fits, appends = res['run_fits'], res['run_appends']
    m['ann_index.fits'] = fits
    m['ann_index.appends'] = appends
    m['ann_index.append_share'] = appends / (appends + fits) if appends + fits else 0.0
    m['ann_index.versions'] = res['index_versions']
    m['ann_index.bytes'] = res['index_bytes']
    m['ann_index.bytes_per_source_byte'] = res['index_bytes'] / res['corpus_bytes']
    m['session_memo.builds'] = sum(r['memo_builds'] for r in ops)
    traced = next(p for p in res['passes'] if p['pass'] == pid)
    for k in ('add_batch_s', 'wal_s', 'trigger_s'):
        m[f'streaming.{k}'] = traced.get(k, 0.0)
    # tracing overhead: marts' traced warm pass 3 minus the untraced warm
    # pass 4 (pass 2 finishes warming the JIT up; what warming is left can
    # only inflate the estimate); ingest's traced batch minus the mean of
    # its untraced neighbours, which cancels the index chain's growth
    w = {p['pass']: p['wall_s'] for p in res['passes']}
    m['trace.overhead_s'] = (w[3] - w[4] if workload == 'marts'
                             else w[pid] - statistics.mean((w[pid - 1], w[pid + 1])))
    m['trace.sum_violations'] = sum(1 for r in ops if r['layers']['trace.sum_ok'] < 1.0)
    return m


def unit(name):
    for suffix, u in (('_s', 's'), ('_mb', 'MB'), ('cores', 'cores'), ('share', 'ratio'),
                      ('per_source_byte', 'ratio'), ('bytes', 'bytes')):
        if name.endswith(suffix):
            return u
    return 'count'


# ---------------------------------------------------------------- host -----

def host_sample():
    with open('/proc/loadavg') as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open('/proc/stat') as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {'loadavg': load, 'steal': cpu[7] if len(cpu) > 7 else 0, 'total': sum(cpu)}


def host_delta(a, b):
    ticks = max(1, b['total'] - a['total'])
    return {'loadavg_before': a['loadavg'], 'loadavg_after': b['loadavg'],
            'steal_share': (b['steal'] - a['steal']) / ticks,
            'steal_s': (b['steal'] - a['steal']) / os.sysconf('SC_CLK_TCK')}


# ---------------------------------------------------------------- run ------

def run(args, spec, work, cp):
    t0 = time.time()
    inputs = marts_inputs if args.workload == 'marts' else ingest_inputs
    corpus, states, extra = inputs(work, spec, args.seed)
    gen_s = time.time() - t0
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, 'tmp'))
    cmd = (['java', f'-Xms{JVM_HEAP}', f'-Xmx{JVM_HEAP}', '-XX:+UseParallelGC', '-XX:-UsePerfData',
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + JDK_OPENS +
           ['-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC', '-cp', cp,
            'graft.perfbench.Main', f'workload={args.workload}', f'corpus={corpus}',
            f'work={work}', f"warmup={spec['warmup']}",
            f'trace={args.trace}', f'cores={cores}'] + extra)
    log(f'{args.workload}: inputs in {gen_s:.1f} s; harness on local[{cores}]')
    t0 = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, 'spark-local'))
    with open(os.path.join(work, 'jvm.log'), 'w') as jl:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = 'timeout'
    jvm_s = time.time() - t0
    if rc != 0:
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(os.path.join(work, 'jvm.log'), os.path.join(OUT, f'{args.workload}_seed{args.seed}.jvm.log'))
        raise SystemExit(f'perfbench: harness failed ({rc}); log in perfbench/out/')
    with open(os.path.join(work, 'result.json')) as f:
        res = json.load(f)
    with open(os.path.join(work, 'oracle_sql.json')) as f:
        oracle_sql = json.load(f)
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(os.path.join(work, 'spans.jsonl'),
                    os.path.join(OUT, f'{args.workload}_seed{args.seed}_spans.jsonl'))
    t0 = time.time()
    failures, n_checked = check_outputs(res, os.path.join(work, 'out'), oracle_sql, states)
    e2e, tail_info = end_to_end(res, args.workload)
    metrics = per_layer(res, args.workload) if args.trace else e2e
    return {
        'workload': args.workload, 'seed': args.seed, 'seconds': args.seconds, 'trace': args.trace,
        'cores': cores, 'gen_s': gen_s, 'jvm_s': jvm_s, 'check_s': time.time() - t0,
        'checked_outputs': n_checked, 'attempted': len(res['ops']), 'failed': len(failures),
        'failed_frac': len(failures) / len(res['ops']), 'failures': failures,
        'end_to_end': e2e, 'tail': tail_info,
        'metrics': {k: {'value': v, 'unit': unit(k)} for k, v in metrics.items()},
        'raw': res,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft'))):
        raise SystemExit('perfbench: graft sources not found beside perfbench/; '
                         'run it from a checkout of the repository')
    host0 = host_sample()
    cp = classpath()
    work = os.path.join(HERE, '.work', f'{args.workload}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, WORKLOADS[args.workload], work, cp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result['host'] = host = host_delta(host0, host_sample())
    os.makedirs(OUT, exist_ok=True)
    detail = os.path.join(OUT, f'{args.workload}_seed{args.seed}_trace{args.trace}.json')
    with open(detail, 'w') as f:
        json.dump(result, f, indent=1)
    print(f"host: loadavg {host['loadavg_before'][0]:.2f} -> {host['loadavg_after'][0]:.2f}, "
          f"steal {100 * host['steal_share']:.2f}% ({host['steal_s']:.1f} s); "
          f"detail in {os.path.relpath(detail, ROOT)}")
    for k, v in result['failures'].items():
        print(f'FAIL {k}: {v}')
    print(json.dumps({'correct': not result['failures'], 'attempted': result['attempted'],
                      'failed': result['failed'], 'metrics': result['metrics']}, separators=(',', ':')))


if __name__ == '__main__':
    main()
