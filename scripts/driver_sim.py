"""Simulates the t1/t2 driver: vanilla SparkSession (no engine configs),
entry() smoke, every queries()[name] at sf0.01 vs oracle_sql() in DuckDB.

This is the project verify recipe (.claude/skills/verify/SKILL.md):
run from anywhere — `python scripts/driver_sim.py`."""
import os, sys, traceback
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# t1 smoke
df = e.entry(spark)
rows = df.collect()
print(f"T1 SMOKE: entry() -> {len(rows)} rows, schema={[f.name for f in df.schema]}")
assert len(rows) > 0

# t2 correctness
import duckdb
sys.path.insert(0, os.path.join(REPO, "tests"))
from oracle import compare, duckdb_run
qs, osql = e.queries(), e.oracle_sql()
sf = "/root/testdata/sf0.01"
fails = []
for name, fn in sorted(qs.items()):
    try:
        sdf = fn(spark, sf)
        if name in osql:
            problems = compare(sdf, duckdb_run(osql[name], sf), name)
            if problems: fails.append(problems[0][:200])
            else: print(f"  OK   {name}")
        else:
            n = sdf.count(); print(f"  ROWS {name}: {n}")
    except Exception as ex:
        fails.append(f"{name}: EXC {type(ex).__name__}: {str(ex)[:160]}")
        print(f"  EXC  {name}: {str(ex)[:160]}")
print("FAILS:", len(fails))
for f in fails: print("  ", f)
