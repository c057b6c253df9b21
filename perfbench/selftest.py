#!/usr/bin/env python3
"""Toy-size self-test of the benchmark (a one-bag fleet, a 200-document
corpus). For each workload it runs once untraced and once traced, and
asserts that every metric of BENCHMARK.json appears with its unit and
that the outputs check correct; then it runs once with a damaged first
output (one row dropped from a converted table, one row dropped from a
pair-query answer) and asserts that the check fails.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
           '--seed', '7', '--seconds', '1', '--trace', str(trace), '--toy', *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f'FAIL {workload} trace={trace} {extra}: exit {p.returncode}\n{p.stderr[-3000:]}')
    lines = p.stdout.strip().splitlines()
    env = json.loads(lines[-2])['env']
    return json.loads(lines[-1]), env


def main():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    for w in (x['name'] for x in spec['workloads']):
        for trace, kind in ((0, 'end_to_end'), (1, 'per_layer')):
            res, env = run(w, trace)
            assert set(res) == {'correct', 'attempted', 'failed', 'metrics'}, res
            assert res['correct'] and res['failed'] == 0 and res['attempted'] >= 1, res
            want = {m['name']: m['unit'] for m in spec[kind]}
            got = {k: v['unit'] for k, v in res['metrics'].items()}
            assert got == want, f'{w} trace={trace}: metric/unit mismatch {set(got) ^ set(want)}'
            assert all(isinstance(v['value'], (int, float)) for v in res['metrics'].values())
            if trace == 0:
                assert all(v['value'] > 0 for v in res['metrics'].values()), res['metrics']
            for k in ('nproc', 'cpus', 'driver_heap_mb', 'jvm', 'git_commit',
                      'loadavg_before', 'loadavg_after', 'oversubscribed'):
                assert k in env, f'env lacks {k}'
            print(f'ok   {w} trace={trace}: {len(got)} metrics, attempted={res["attempted"]}')
        res, _ = run(w, 0, '--corrupt')
        assert not res['correct'] and res['failed'] >= 1, f'{w}: damaged output passed {res}'
        print(f'ok   {w} damaged output fails its check: failed={res["failed"]}')
    print('selftest passed')


if __name__ == '__main__':
    main()
