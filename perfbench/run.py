#!/usr/bin/env python3
"""Benchmark entry point: builds the program, makes the seeded inputs,
runs one workload in one JVM and prints the result as the last line.

    python3 perfbench/run.py --workload utxo --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds the program and the
benchmark main with sbt into .bench_build/ (offline); later runs reuse
the build until a source file changes. Inputs are cached in .bench_work/
by (generator version, seed, size). Every run leaves a detail record (all
raw samples, host record, calibration) and, when traced, a span file in
.bench_work/results/.

The registry tables come from the repository's scripts/gen_sf.py and are
cached by a hash of that file, so a change to the generator makes new
tables (and fails the pinned registry check until the pins are updated).

Extra option: --corrupt drop_part deletes one output part file before the
check (used by selftest.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
WORK = os.path.join(ROOT, '.bench_work')
WORKLOADS = ('utxo', 'registry')
HEAP = '3g'
# registry tables: scale factor of scripts/gen_sf.py
TABLES_SF = '0.05'
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke',
    'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
    'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
    'java.base/sun.security.action', 'java.base/sun.util.calendar']


def fail(msg, code=2):
    print(f'perfbench: {msg}', file=sys.stderr, flush=True)
    sys.exit(code)


def source_digest():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src'),
             os.path.join(HERE, 'build.sbt'), os.path.join(HERE, 'project', 'build.properties')]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, 'rb') as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath
    and the seconds spent building (0 when the build was current)."""
    digest = source_digest()
    stamp = os.path.join(BUILD, 'stamp')
    cp_file = os.path.join(BUILD, 'classpath.txt')
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), 0.0
    if shutil.which('sbt') is None:
        fail('sbt not found on PATH; it is needed to build the program')
    tmp = os.path.join(BUILD, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt launcher starts keeps its temp files in the checkout
    env = dict(os.environ, COURSIER_MODE='offline',
               JAVA_TOOL_OPTIONS=f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}')
    opts = ['-Dsbt.offline=true', '-Dsbt.server.autostart=false', '-Dsbt.log.noformat=true',
            f'-Djava.io.tmpdir={tmp}']
    repos = os.path.expanduser('~/.sbt/repositories')
    if os.path.isfile(repos):
        opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
    cmd = ['sbt', '--batch'] + opts + ['compile', 'export Runtime/fullClasspath']
    log = os.path.join(BUILD, 'build.log')
    t0 = time.time()
    with open(log, 'w') as out:
        rc = run_child(cmd, HERE, env, out, BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(''.join(f.readlines()[-40:]))
        fail(f'build failed (exit {rc}); log in {log}')
    with open(log) as f:
        lines = [l.strip() for l in f if 'scala-2.13' in l and not l.startswith('[')]
    if not lines:
        fail(f'build printed no classpath; log in {log}')
    with open(cp_file, 'w') as f:
        f.write(lines[-1])
    with open(stamp, 'w') as f:
        f.write(digest)
    built = time.time() - t0
    print(f'perfbench: built in {built:.0f} s', file=sys.stderr, flush=True)
    return lines[-1], built


def run_child(cmd, cwd, env, out, timeout):
    """Runs a child in its own process group; kills the group on timeout
    and always waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def tables():
    """Registry input tables (fixed, not seeded), made by the repository's
    table generator and cached by a hash of it."""
    gen = os.path.join(ROOT, 'scripts', 'gen_sf.py')
    if not os.path.isfile(gen):
        fail(f'table generator {gen} not found; run from a full checkout')
    with open(gen, 'rb') as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(WORK, 'inputs', f'tables-{digest}-sf{TABLES_SF}')
    if os.path.isdir(d):
        return d
    tmp = d + f'.tmp{os.getpid()}'
    shutil.rmtree(tmp, ignore_errors=True)
    # -B: no __pycache__ next to the generator
    rc = run_child([sys.executable, '-B', gen, TABLES_SF, tmp], ROOT, dict(os.environ),
                   sys.stderr, BUILD_TIMEOUT_S)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f'table generation failed (exit {rc})')
    os.rename(tmp, d)
    return d


def spark_install():
    """The Spark installation whose jars the program builds and runs on."""
    home = os.environ.get('SPARK_HOME')
    submit = shutil.which('spark-submit')
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def expected_metrics(trace):
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    return {m['name']: m['unit'] for m in spec['per_layer' if trace else 'end_to_end']}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', required=True, type=int)
    ap.add_argument('--seconds', required=True, type=float)
    ap.add_argument('--trace', required=True, type=int, choices=(0, 1))
    ap.add_argument('--corrupt', choices=('drop_part',))
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, 'src', 'main', 'scala', 'graft', 'sources', 'UtxoConvert.scala')):
        fail(f'program sources not found under {ROOT}/src/main/scala; run from a full checkout')
    spark_home = spark_install()
    if not os.path.isdir(os.path.join(spark_home or '', 'jars')):
        fail('Spark not found: set SPARK_HOME or put spark-submit on PATH')
    os.environ['SPARK_HOME'] = spark_home  # the build reads it
    want = expected_metrics(a.trace)

    classpath, built = build()
    # a run gets RUN_TIMEOUT_S on top of any build it had to do first
    deadline = t_start + built + RUN_TIMEOUT_S
    run_id = f'{a.workload}-s{a.seed}-t{a.trace}'
    scratch = os.path.join(WORK, 'run', run_id)  # deleted after the run
    tmpdir = os.path.join(scratch, 'tmp')
    for d in (tmpdir, os.path.join(WORK, 'results'), os.path.join(WORK, 'logs')):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(WORK, 'results', f'{run_id}.json')
    if os.path.exists(out):
        os.remove(out)
    args = ['--workload', a.workload, '--seed', str(a.seed), '--seconds', str(a.seconds),
            '--trace', str(a.trace), '--work', WORK, '--out', out]
    if a.workload == 'registry':
        args += ['--tables', tables(), '--expected', os.path.join(HERE, 'registry_expected.tsv')]
    if a.corrupt:
        args += ['--corrupt', a.corrupt]
    jvm = ['java', f'-Xmx{HEAP}', '-XX:-UsePerfData',
           f'-Djava.io.tmpdir={tmpdir}', f'-Dderby.system.home={tmpdir}',
           f'-Dlog4j2.configurationFile={os.path.join(HERE, "log4j2.properties")}',
           '-Dspark.ui.enabled=false']
    for p in JDK17_OPENS:
        jvm += ['--add-opens', f'{p}=ALL-UNNAMED']
    jvm += ['-cp', classpath, 'perfbench.Main'] + args
    log = os.path.join(WORK, 'logs', f'{run_id}.log')
    # Spark lets SPARK_LOCAL_DIRS override spark.local.dir: pin it to the
    # same spill directory perfbench.Main configures
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, 'spill'))
    try:
        with open(log, 'w') as f:
            rc = run_child(jvm, ROOT, env, f, max(10, deadline - time.time()))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write(''.join(f.readlines()[-40:]))
        fail(f'{a.workload} run failed (exit {rc}); log in {log}', 1)
    with open(out) as f:
        result = json.load(f)
    got = {k: v['unit'] for k, v in result['metrics'].items()}
    if got != want:
        fail(f'metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, '
             f'extra {sorted(set(got) - set(want))}, '
             f'unit mismatch {sorted(k for k in set(want) & set(got) if want[k] != got[k])}', 1)
    print(json.dumps(result), flush=True)


if __name__ == '__main__':
    main()
