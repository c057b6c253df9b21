#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload etl-fleet-lz4 --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark JVM from source when the sources
changed (sbt, offline), runs perfbench.Main at local[4], checks the
outputs the JVM dumped against DuckDB, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones (0 for a layer the workload leaves idle). The line
before it records the environment of the run.

--toy and --corrupt are for selftest.py: tiny inputs, and a damaged
first output that the checks must catch.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build', 'perfbench')
WORKLOADS = ('etl-fleet-lz4', 'query-converted')
# local[N] is fixed so that runs on different machines measure the same
# plan; a run where N exceeds the machine's cores is flagged
CPUS = 4
HEAP = '3g'
DEADLINE_S = 175
# JDK 17 module opens Spark needs outside spark-submit
OPENS = ['java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
         'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
         'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar']


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src')]
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt')]
    for d in (os.path.join(ROOT, 'project'), os.path.join(HERE, 'project')):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith(('.sbt', '.properties', '.scala'))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Classpath of the compiled engine + benchmark, rebuilt when any
    source changed since the last build in this checkout."""
    fp = fingerprint()
    stamp = os.path.join(BUILD, 'build.json')
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get('fingerprint') == fp:
            return s['classpath'], fp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    opts = ['-Dsbt.offline=true', '-Dsbt.server.autostart=false']
    repos = os.path.expanduser('~/.sbt/repositories')
    if os.path.exists(repos):
        opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
    env['SBT_OPTS'] = ' '.join([env.get('SBT_OPTS', '')] + opts + ['-Xmx3g']).strip()
    log('building engine and benchmark (sbt, offline)')
    out = run_child(['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile',
                     'export Runtime/fullClasspath'], HERE, env,
                    os.path.join(BUILD, 'build.log'), deadline - time.time())
    if out != 0:
        raise RuntimeError(f'sbt build failed (exit {out}); see {BUILD}/build.log')
    with open(os.path.join(BUILD, 'build.log')) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if '.jar' in l and not l.startswith('[')), None)
    if cp is None:
        raise RuntimeError('sbt printed no classpath')
    with open(stamp, 'w') as f:
        json.dump({'fingerprint': fp, 'classpath': cp}, f)
    return cp, fp


def run_child(cmd, cwd, env, log_path, timeout):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group on timeout and always waits for it."""
    with open(log_path, 'w') as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except BaseException:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors='replace') as f:
            return ''.join(f.readlines()[-n:])
    except OSError:
        return ''


def duckdb_checks(result):
    """Failed op ids: every dumped answer is compared with DuckDB running
    the query's oracle SQL, by the method of tools/oracle_check.py
    (columns sorted by name, row-by-row equality, int/float dtype splits
    count as mismatches)."""
    if not result['dumps']:
        return {}
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    cons = {}
    oracles = {}
    failed = {}
    for d in result['dumps']:
        if d['tables'] not in cons:
            con = cons[d['tables']] = duckdb.connect()
            for t in ('documents', 'embeddings') if d['tables'] else ():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{d['tables']}/{t}.parquet/*.parquet')")
        key = (d['tables'], d['oracle'])
        if key not in oracles:
            oracles[key] = cons[d['tables']].execute(d['oracle']).df()
        exp = oracles[key]
        files = [os.path.join(d['path'], f) for f in sorted(os.listdir(d['path']))
                 if f.endswith('.parquet')]
        got = pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else exp.iloc[0:0]
        why = compare(exp, got)
        if why:
            for op in d['ops']:
                failed.setdefault(op, f"{d['query']}: {why}")
    return failed


def compare(exp, got):
    import pandas as pd
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    got = got[sorted(got.columns)].reset_index(drop=True)
    if list(exp.columns) != list(got.columns):
        return f'cols: oracle={list(exp.columns)} spark={list(got.columns)}'
    if len(exp) != len(got):
        return f'rows: oracle={len(exp)} spark={len(got)}'
    for c in exp.columns:
        e, g = exp[c], got[c]
        if str(e.dtype).startswith('datetime') or str(g.dtype).startswith('datetime'):
            e = pd.to_datetime(e).astype('datetime64[ns]')
            g = pd.to_datetime(g).astype('datetime64[ns]')
        if {e.dtype.kind, g.dtype.kind} in ({'i', 'f'}, {'u', 'f'}):
            return f'col {c} dtype split: oracle={e.dtype} spark={g.dtype}'
        try:
            eq = (e.isna() & g.isna()) | (e == g)
        except Exception:
            eq = e.astype(str) == g.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f'col {c} differs at row {i}: oracle={e[i]!r} spark={g[i]!r}'
    return None


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method='inclusive')[int(q * 100) - 1]


def cpu_times():
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    try:
        with open('/proc/stat') as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def environment(result, fp, load_before, cpu_before):
    nproc = os.cpu_count() or 0
    cpu_model = ''
    try:
        with open('/proc/cpuinfo') as f:
            cpu_model = next((l.split(':', 1)[1].strip() for l in f
                              if l.startswith('model name')), '')
    except OSError:
        pass
    commit = 'unknown (not a git checkout)'
    if os.path.isdir(os.path.join(ROOT, '.git')):
        r = subprocess.run(['git', '-C', ROOT, 'rev-parse', 'HEAD'], capture_output=True,
                           text=True)
        commit = r.stdout.strip() or commit
    total, steal = (a - b for a, b in zip(cpu_times(), cpu_before))
    env = dict(result['env'])
    env.update({'nproc': nproc, 'cpu_model': cpu_model, 'git_commit': commit,
                'source_fingerprint': fp[:16], 'loadavg_before': list(load_before),
                'loadavg_after': list(os.getloadavg()),
                # CPU time a hypervisor gave to other guests during the run
                'cpu_steal_pct': round(100 * steal / total, 2) if total else None,
                'oversubscribed': CPUS > nproc})
    if CPUS > nproc:
        log(f'WARNING: local[{CPUS}] on {nproc} cores; timings are oversubscribed')
    return env


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--toy', action='store_true')
    ap.add_argument('--corrupt', action='store_true')
    args = ap.parse_args()
    # a terminated runner still stops its children (run_child's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    deadline = started + DEADLINE_S

    spec_path = os.path.join(ROOT, 'BENCHMARK.json')
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt')) and
            os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala'))):
        log(f'no engine sources next to the benchmark (expected build.sbt and src/ in {ROOT})')
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    load_before = os.getloadavg()
    cpu_before = cpu_times()

    # the first run in a checkout builds; that run may take much longer
    classpath, fp = build(started + 880)
    deadline = max(deadline, time.time() + 120)

    work = os.path.join(BUILD, f'work-{args.workload}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, 'tmp'))
    spans = os.path.join(BUILD, 'spans', f'{args.workload}-seed{args.seed}.json')
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    out = os.path.join(work, 'result.json')
    # a fixed-size heap: G1 does not resize it mid-run
    cmd = (['java', f'-Xms{HEAP}', f'-Xmx{HEAP}']
           + [a for p in OPENS for a in ('--add-opens', f'java.base/{p}=ALL-UNNAMED')]
           + [f'-Djava.io.tmpdir={work}/tmp', f'-Dgraft.model.dir={work}/models',
              '-Dspark.ui.enabled=false', '-cp', classpath, 'perfbench.Main',
              '--workload', args.workload, '--seed', str(args.seed),
              '--seconds', str(args.seconds), '--trace', str(args.trace),
              '--cpus', str(CPUS), '--work', os.path.join(work, 'w'), '--out', out,
              '--spans', spans]
           + (['--toy'] if args.toy else []) + (['--corrupt'] if args.corrupt else []))
    jvm_log = os.path.join(BUILD, f'jvm-{args.workload}.log')
    try:
        code = run_child(cmd, ROOT, dict(os.environ), jvm_log, deadline - time.time() - 10)
        if code != 0 or not os.path.exists(out):
            log(f'benchmark JVM failed (exit {code}):\n{tail(jvm_log)}')
            return 1
        with open(out) as f:
            result = json.load(f)
        shutil.copy(out, os.path.join(BUILD, f'result-{args.workload}.json'))
        dump_failures = duckdb_checks(result)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # measured ops have ids 0..n-1; the warm-up and the probes of a
    # traced run are checked too and carry negative ids
    ops = result['ops']
    failures = {i: o['failure'] for i, o in enumerate(ops) if o['failure']}
    failures.update({c['id']: c['failure'] for c in result['checks'] if c['failure']})
    for i, why in dump_failures.items():
        failures.setdefault(i, why)
    attempted = len(ops) + len(result['checks'])
    for i, why in sorted(failures.items()):
        log(f'op {i} failed its check: {why}')

    env = environment(result, fp, load_before, cpu_before)
    env.update({'workload': args.workload, 'seed': args.seed, 'trace': args.trace,
                'failed_ratio': len(failures) / attempted,
                'op_s': [round(o['s'], 4) for o in ops]})
    print(json.dumps({'env': env}))

    if args.trace:
        layers = result['layers']
        metrics = {m['name']: {'value': layers.get(m['name'], 0.0), 'unit': m['unit']}
                   for m in spec['per_layer']}
    else:
        times = [o['s'] for o in ops]
        setup = result['setup']
        p50 = statistics.median(times)
        values = {
            'setup_s': setup['session_s'] + statistics.median(setup['generate_s'])
            + setup['prepare_s'] + setup['warmup_s'],
            'op_s_p50': p50,
            'op_s_p90': quantile(times, 0.9),
            'ops_per_s': len(times) / sum(times),
            'in_mb_per_s': result['input_bytes'] / 1e6 / p50,
            'peak_rss_mb': result['peak_rss_mb'],
        }
        metrics = {m['name']: {'value': values[m['name']], 'unit': m['unit']}
                   for m in spec['end_to_end']}
    print(json.dumps({'correct': not failures, 'attempted': attempted,
                      'failed': len(failures), 'metrics': metrics}))
    return 0


if __name__ == '__main__':
    sys.exit(main())
