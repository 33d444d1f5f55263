"""Simulate the driver: load __spark_entry__ from the repo root the way an
external harness would (importlib from the file), run entry() smoke, then
every queries() entry vs its oracle_sql() under DuckDB at sf0.01, and
print a per-query verdict line. This is the engine's end-to-end surface.
The session is the engine's own (``session.build_session``), so the
verdicts run under the same settings as the tests.

Exits non-zero if entry() returns no rows or any query mismatches or fails,
so it can gate any checkout: ``python scripts/driver_sim.py [sf_dir]``."""

import importlib.util
import os
import sys
import time

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

# importable now: loading __spark_entry__ put the repo on sys.path
from tepsonic_database_sync_spark.session import build_session

spark = build_session(app_name="driver_sim")
spark.sparkContext.setLogLevel("ERROR")

t0 = time.time()
df = mod.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema: {[f.name for f in df.schema]}  ({time.time()-t0:.1f}s)")
if n == 0:
    sys.exit("entry() returned no rows")

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, os_ = mod.queries(), mod.oracle_sql()
fails = []
for name, fn in qs.items():
    t0 = time.time()
    try:
        got = fn(spark, SF).toPandas()
        if name not in os_:
            print(f"  {name}: rows-only, {len(got)} rows ({time.time()-t0:.1f}s)")
            continue
        want = con.execute(os_[name]).df()
        got = got[sorted(got.columns)].sort_values(by=sorted(got.columns), kind="mergesort").reset_index(drop=True)
        want = want[sorted(want.columns)].sort_values(by=sorted(want.columns), kind="mergesort").reset_index(drop=True)
        ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
        print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} ({len(got)} rows, {time.time()-t0:.1f}s)")
        if not ok:
            fails.append(name)
    except Exception as ex:
        print(f"  {name}: ERROR {type(ex).__name__}: {ex}")
        fails.append(name)

print(f"\n{len(qs) - len(fails)}/{len(qs)} queries match at {SF}")
sys.exit(1 if fails else 0)
