#!/usr/bin/env python3
"""The benchmark's own test: its checks must be able to fail.

Runs the utxo workload twice on one seed: once as is, where every
operation must pass, and once with --corrupt drop_part, which deletes a
part file of the first timed plain convert's output before it is checked;
that run must report a failed operation and correct = false.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(*extra):
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', 'utxo', '--seed', '7',
           '--seconds', '1', '--trace', '0'] + list(extra)
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f'selftest: {" ".join(cmd)} exited {p.returncode}')
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    clean = run()
    assert clean['correct'] and clean['failed'] == 0, f'clean run failed: {clean}'
    bad = run('--corrupt', 'drop_part')
    assert not bad['correct'] and bad['failed'] >= 1, f'corrupted output was not caught: {bad}'
    print(f'selftest ok: clean {clean["failed"]}/{clean["attempted"]} failed, '
          f'corrupted {bad["failed"]}/{bad["attempted"]} failed')


if __name__ == '__main__':
    main()
