"""Local replica of the grading driver's end-to-end check: a FRESH vanilla
SparkSession (plain local[32] — NOT the package's tuned get_spark; the
driver won't use it either), `import __spark_entry__`, then per query run
the Spark callable and its DuckDB oracle side-by-side at sf0.01 and
compare rows/schema/value-hash via tests/oracle_compare.

Usage:
    python tools/driver_sim.py                   # entire registry
    python tools/driver_sim.py name1,name2,...   # specific queries
    append --entry to also smoke entry().

Exit 0 iff everything passes. Run it before committing a change to any
registered query.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

spark = SparkSession.builder.master("local[32]").getOrCreate()
import __spark_entry__ as E  # noqa: E402

from tests.oracle_compare import assert_parity, run_oracle  # noqa: E402

args = [a for a in sys.argv[1:] if a != "--entry"]
qs, os_ = E.queries(), E.oracle_sql()
sel = args[0] if args else "all"
todo = list(qs) if sel == "all" else sel.split(",")
if "--entry" in sys.argv[1:]:
    df = E.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
    assert rows, "entry() must return >0 rows"
sf = "/root/testdata/sf0.01"
fails = []
for name in todo:
    t0 = time.perf_counter()
    try:
        sdf = qs[name](spark, sf)
        opdf = run_oracle(os_[name], sf)
        assert_parity(sdf, opdf, name)
        print(f"PASS {name} ({len(opdf)} rows, {time.perf_counter()-t0:.1f}s)")
    except Exception as exc:  # noqa: BLE001 — isolate per query like the driver
        fails.append(name)
        print(f"FAIL {name}: {type(exc).__name__}: {str(exc)[:300]}")
print(f"== {len(todo)-len(fails)}/{len(todo)} pass")
sys.exit(1 if fails else 0)
