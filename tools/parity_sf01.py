"""Oracle parity at sf0.1 for queries whose oracles are tractable there —
catches data-dependent divergences invisible at sf0.01 (longer docs, more
ties, bigger groups)."""
import sys, time
sys.path.insert(0, '/root/repo')
import os
os.chdir('/root/repo')
from petfinder_database_distributor_spark.session import get_spark
from petfinder_database_distributor_spark.registry import load_all
from tests.oracle_compare import assert_parity, run_oracle

spark = get_spark(app_name='parity_sf01')
spark.sparkContext.setLogLevel('ERROR')
qs = load_all()
SF = '/root/testdata/sf0.1'
# skip quadratic / recursive / all-pairs oracles and the staged-stream queries
SKIP = {
    # r14: the ENTIRE dedup_ngram_jaccard family LEFT the skip set — the
    # flagship/baseline/salted oracle was rewritten to the
    # candidate-bounded postings-join form (502s -> 0.7s at sf0.1, r13
    # verdict #3) and all four (incl. _capped) verified green at sf0.1
    # on 2026-08-17 (10.6s / 3.3s / 3.8s / 3.2s wall each, Spark+oracle).
    'dedup_minhash_lsh',
    'dedup_simhash_pairs', 'dedup_cluster_components',
    'dedup_cluster_components_labelprop', 'dedup_apply_corpus',
    'dedup_embedding_cosine', 'dedup_embedding_cosine_exact',
    # (ann_ivf_topk left the skip set in r10: folded onto the persisted
    # index, its sf0.1 cost is one staged probe, not a retrain)
    'ann_bruteforce_topk', 'ann_lsh_topk',
} | {n for n in qs if n.startswith('stream_')}
failed = []
for name, spec in qs.items():
    if name in SKIP:
        continue
    t0 = time.time()
    try:
        assert_parity(spec.fn(spark, SF), run_oracle(spec.oracle, SF), name)
        print(f'{name}: OK [{time.time()-t0:.1f}s]', flush=True)
    except Exception as e:
        failed.append(name)
        print(f'{name}: FAIL {str(e)[:300]}', flush=True)
print('FAILED:', failed)
sys.exit(1 if failed else 0)
