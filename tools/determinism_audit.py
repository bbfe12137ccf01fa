"""Determinism audit (run ad hoc, not part of the default suite — it
re-runs every query twice): every query must produce IDENTICAL canonical
results under different shuffle partitionings. Differences reveal
tie-dependent picks / order-dependent float accumulation — the class of
latent parity flake a tie-broken asof join can carry. Streaming queries are
excluded (they scope their own confs; covered by tests/test_streaming.py).

Usage: python tools/determinism_audit.py
"""
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.chdir(REPO_ROOT)

from petfinder_database_distributor_spark.session import get_spark
from petfinder_database_distributor_spark.registry import load_all
from tests.oracle_compare import *
import tests.oracle_compare as oc
import pandas as pd, hashlib

spark = get_spark(app_name='determinism_audit')
spark.sparkContext.setLogLevel('ERROR')
qs = load_all()
SF = '/root/testdata/sf0.01'

def canon_hash(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # stringify (arrays etc.), sort rows for order-insensitivity
    s = pdf.astype(str).sort_values(cols).to_csv(index=False)
    return hashlib.md5(s.encode()).hexdigest()

bad = []
skip_streaming = {n for n in qs if n.startswith('stream_')}  # conf-scoped internally; slow
for name, spec in qs.items():
    if name in skip_streaming:
        continue
    try:
        spark.conf.set('spark.sql.shuffle.partitions', '32')
        h1 = canon_hash(spec.fn(spark, SF))
        spark.conf.set('spark.sql.shuffle.partitions', '7')
        h2 = canon_hash(spec.fn(spark, SF))
        status = 'OK' if h1 == h2 else 'NONDETERMINISTIC'
        if h1 != h2:
            bad.append(name)
        print(f'{name}: {status}', flush=True)
    except Exception as e:
        bad.append(name)
        print(f'{name}: ERROR {type(e).__name__}: {str(e)[:200]}', flush=True)
print('BAD:', bad)
