#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <extract_job|dedup_catalog>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the library and the harness
from source (perfbench/build.sh, into .bench_build/), runs one workload in
its own JVM at local[4] (perfbench/src/perfbench/Main.scala), checks the
outputs, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. A line of host context
(nproc, load average, -Xmx, memory bandwidth) comes just before it. The
exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True

# seconds for everything after the build; the build (first run in a
# checkout) has a budget of its own
RUN_BUDGET_S = 175.0
BUILD_BUDGET_S = 700.0
BUILD_DIR = '.bench_build'
WORKLOADS = ('extract_job', 'dedup_catalog')
HEAP = '3g'
# Per-layer metrics that only one workload exercises. The others report 0
# for them: that layer does no work there. Every other per-layer metric is
# measured in every workload.
OWNER = {
    'extractjob.': 'extract_job', 'lineage.': 'extract_job',
    'bytes_written_per_input_byte': 'extract_job',
    'scaling_eff': 'extract_job', 'queries.': 'dedup_catalog',
}
JDK17_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]


def fail(msg):
    """Exit non-zero without printing a result line."""
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        submit = shutil.which('spark-submit')
        if not submit:
            fail('neither SPARK_HOME nor spark-submit found')
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, 'jars')


def source_stamp():
    h = hashlib.sha256()
    for root in ('src/main/scala', 'perfbench/src'):
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                if f.endswith('.scala'):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, 'rb') as fh:
                        h.update(fh.read())
    with open('perfbench/build.sh', 'rb') as fh:
        h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, log_path, budget_s):
    """Runs a command in its own process group, output to `log_path`; kills
    the whole group on timeout (returns None then)."""
    with open(log_path, 'wb') as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(budget_s, 1.0))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def build():
    classes = os.path.join(BUILD_DIR, 'classes')
    stamp_file = classes + '.stamp'
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    log = os.path.join(BUILD_DIR, 'build.log')
    code = run_group(['bash', 'perfbench/build.sh', classes], log, BUILD_BUDGET_S)
    if code != 0:
        with open(log, errors='replace') as fh:
            print(fh.read()[-4000:], file=sys.stderr)
        fail(f'build failed ({code}); log above')
    with open(stamp_file, 'w') as fh:
        fh.write(stamp)
    return classes


def java_cmd(classes, work, main_args):
    opens = [x for p in JDK17_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    return (['java'] + opens + [
        f'-Xms{HEAP}', f'-Xmx{HEAP}',
        f'-Djava.io.tmpdir={tmp}',
        f'-Dspark.local.dir={os.path.join(work, "spark-local")}',
        '-Dspark.ui.enabled=false',
        '-Dspark.sql.session.timeZone=UTC',
        '-Dspark.sql.warehouse.dir=' + os.path.join(work, 'warehouse'),
        '-cp', f'{classes}{os.pathsep}{os.path.join(spark_jars(), "*")}',
    ] + main_args)


_deadline = time.monotonic() + RUN_BUDGET_S  # reset once the build is done


def remaining():
    return _deadline - time.monotonic()


def compare_like_oracle(con, got_path, sql):
    """The rule of tools/compare_oracle.py: columns sorted by name, rows
    sorted on their repr, floats compared exactly, everything else by str."""
    got = con.execute(f"SELECT * FROM '{got_path}/*.parquet'").fetch_df()
    exp = con.execute(sql).fetch_df()
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f'schema: got={list(g.columns)} exp={list(e.columns)}'
    if len(g) != len(e):
        return f'rowcount: got={len(g)} exp={len(e)}'

    def sortable(df):
        keys = {'__k_' + c: df[c].map(repr) for c in df.columns}
        return df.assign(**keys).sort_values(
            by=['__k_' + c for c in df.columns], ignore_index=True)[list(df.columns)]

    g, e = sortable(g), sortable(e)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if a != b and not (math.isnan(a) and math.isnan(b)):
                    return f'col {c} row {i}: {a!r} != {b!r}'
            elif str(a) != str(b):
                return f'col {c} row {i}: {a!r} != {b!r}'
    return None


def materialized(sql):
    """Marks every CTE but the recursive `reach` MATERIALIZED. The relation
    is the same; DuckDB otherwise re-evaluates the MinHash CTEs inside the
    recursion and the closure oracles run for minutes even at 100 docs."""
    return re.sub(r'\b(?!reach\b)(\w+) AS \(', r'\1 AS MATERIALIZED (', sql)


def oracle_check(work):
    """Each dedup leaf's warm-up output against SparkEntry.oracleSql in
    DuckDB over the warm-up corpus. Returns the failures."""
    import duckdb
    with open(os.path.join(work, 'oracle_sql.json')) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute('SET threads TO 4')
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    corpus = os.path.join(work, 'corpus-warm', 'documents.parquet')
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/*.parquet'")
    timer = threading.Timer(max(remaining() - 5, 1.0), con.interrupt)
    timer.start()
    errs = []
    for leaf, sql in sorted(oracle.items()):
        try:
            bad = compare_like_oracle(con, os.path.join(work, 'out', leaf), materialized(sql))
        except Exception as ex:  # a missing output or an oracle error is a failed check
            bad = f'{type(ex).__name__}: {ex}'
        if bad:
            errs.append(f'{leaf} vs DuckDB oracle: {bad}')
    timer.cancel()
    con.close()
    return errs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, default=42)
    ap.add_argument('--seconds', type=float, default=12.0)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir('src/main/scala') or not os.path.isfile('BENCHMARK.json'):
        fail('run from the repository root (src/main/scala and BENCHMARK.json)')
    with open('BENCHMARK.json') as fh:
        spec = json.load(fh)
    classes = build()
    global _deadline
    _deadline = time.monotonic() + RUN_BUDGET_S

    work = os.path.join(BUILD_DIR, 'work', f'{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, 'result.json')
    cmd = java_cmd(classes, work, [
        'perfbench.Main', '--workload', args.workload, '--seed', str(args.seed),
        '--seconds', str(args.seconds), '--trace', str(args.trace),
        '--work', work, '--result', result_path])
    code = run_group(cmd, os.path.join(work, 'jvm.log'), remaining() - 10)
    if code != 0 or not os.path.exists(result_path):
        tail = open(os.path.join(work, 'jvm.log'), errors='replace').read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f'benchmark JVM ended with {code}; log above')
    with open(result_path) as fh:
        res = json.load(fh)

    failures = list(res['failures'])
    attempted, failed = res['attempted'], res['failed']
    if args.workload == 'dedup_catalog':
        # the timed passes run the same code on a larger corpus, so a
        # warm-up output that disagrees with the oracle fails every pass
        oracle_errs = oracle_check(work)
        if oracle_errs:
            failures += oracle_errs
            failed = attempted

    context = dict(res['context'], workload=args.workload, seed=args.seed, trace=args.trace,
                   runs=len(res['run_s']),
                   traced_runs=len(res['traced_run_s']), failures=failures[:20])
    if args.trace:
        shutil.copy(os.path.join(work, 'trace.jsonl'),
                    os.path.join(BUILD_DIR, f'trace-{args.workload}-s{args.seed}.jsonl'))
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = dict(res['per_layer'])
        wanted = spec['per_layer']
        for m in wanted:
            owner = next((w for prefix, w in OWNER.items() if m['name'].startswith(prefix)), None)
            if owner not in (None, args.workload):
                values.setdefault(m['name'], 0.0)
    else:
        run_s = statistics.median(res['run_s'])
        values = {
            'setup_s': res['setup_s'],
            'run_s': run_s,
            'docs_per_s': res['input_docs'] / run_s,
            'peak_rss_mb': res['peak_rss_mb'],
        }
        wanted = spec['end_to_end']
    missing = [m['name'] for m in wanted if m['name'] not in values]
    if missing:
        fail(f'metrics not measured: {missing}')
    metrics = {m['name']: {'value': values[m['name']], 'unit': m['unit']} for m in wanted}

    correct = not failures and failed == 0
    print(json.dumps({'context': context}))
    print(json.dumps({'correct': correct, 'attempted': attempted, 'failed': failed, 'metrics': metrics}))
    sys.exit(0 if correct else 1)


if __name__ == '__main__':
    main()
