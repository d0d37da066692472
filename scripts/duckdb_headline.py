#!/usr/bin/env python3
"""Cross-engine layout check: run the reference README's headline query
(reused-address script equality + ORDER BY height) in DUCKDB against
OUR converted 177.5M-row outputs.

The reference's published 0.632 s is DuckDB-over-its-own-file, so
DuckDB-over-our-files isolates the LAYOUT quality (row-group sizing,
sort, stats, bloom, footer stamps) from our engine's scan speed: if
DuckDB is as fast on our files as on the reference's, the layout
reproduction is complete regardless of which engine reads it.

Usage: python3 scripts/duckdb_headline.py [layout_root]
(expects <root>/{plain,clustered,bloom}/*.parquet from
 `LQB_KEEP=1 sbt "runMain graft.tools.Scale lookup <nCoins>"`, which
 keeps its scratch dir and prints its path; the default root is the
 newest kept `graft_scale_lookup_*` dir in /dev/shm or the temp dir)
"""
import glob
import os
import sys
import tempfile
import time

import duckdb

if len(sys.argv) > 1:
    root = sys.argv[1]
else:
    kept = [d for base in ('/dev/shm', tempfile.gettempdir())
            for d in glob.glob(os.path.join(base, 'graft_scale_lookup_*'))]
    if not kept:
        sys.exit('no kept lookup layouts; run Scale lookup with LQB_KEEP=1')
    root = max(kept, key=os.path.getmtime)
hot = '76a914' + '88' * 20 + '88ac'  # graft.tools.Scale.HotScript

for layout in ['plain', 'clustered', 'bloom']:
    con = duckdb.connect()
    q = f"""SELECT txid, vout, amount, height
            FROM read_parquet('{root}/{layout}/*.parquet')
            WHERE script = from_hex('{hot}') ORDER BY height"""
    rows = len(con.execute(q).fetchall())  # warmup + row count
    times = []
    for _ in range(5):
        t0 = time.time()
        con.execute(q).fetchall()
        times.append(time.time() - t0)
    print(f'{layout}: best {min(times):.3f} s over 5 (rows={rows}), '
          f'runs={[round(t, 3) for t in times]}', flush=True)
