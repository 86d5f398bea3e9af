"""Per-entry Spark job counts — weather-independent plan/action evidence.

Usage: python tools/job_counts.py [sf_dir] [name ...]

Runs the same sequence as bench.py (builds first, then every registry
entry via toPandas) but records, per entry, the number of Spark jobs it
submitted (statusTracker job-id delta) next to its wall. Job counts do
not move with host weather, so they are the primary before/after
evidence when the box's cpu_score swings (BASELINE.md measurement
caveat).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_vectorsearch_spark import get_spark  # noqa: E402
from go_vectorsearch_spark import queries as registry  # noqa: E402

BUILDS = [
    ("ivf_build", lambda s, d: registry._ivf_index(s, d)),
    ("ivf_store_build", lambda s, d: registry._ivf_store_path(s, d)),
    ("corpus_tokenize_build", lambda s, d: registry._toks_cached(s, d)),
    ("dedup_shingle_build", lambda s, d: registry._shingled_cached(s, d)),
    ("ann_lsh_bucket_build", lambda s, d: registry._lsh_bucketed_cached(s, d)),
    ("substr_window_build", lambda s, d: registry._substr_windows_cached(s, d)),
    ("substr_flags_build", lambda s, d: registry._substr_flags_cached(s, d)),
    ("ann_pq_encode_build", lambda s, d: registry._pq_cached(s, d)),
    ("pca_project_build", lambda s, d: registry._pca_cached(s, d)),
    ("pca_exact_build", lambda s, d: registry._pca_exact_cached(s, d)),
    ("bm25_index_build", lambda s, d: registry._bm25_cached(s, d)),
    ("bm25_store_build", lambda s, d: registry._bm25_store_path(s, d)),
    ("bpe_train_build", lambda s, d: registry._bpe_merges_cached(s, d)),
    ("ngram_train_build", lambda s, d: registry._ngram_lm_cached(s, d)),
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    spark = get_spark("job-counts")
    st = spark.sparkContext.statusTracker()

    # simplest robust counter: AppStatusStore via REST is off (no UI);
    # use sc.statusTracker().getJobIdsForGroup with explicit groups
    results = []

    def run(name, fn):
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobGroup(None, None)
        jobs = len(st.getJobIdsForGroup(name))
        results.append((name, jobs, wall))
        print(f"{name:32s} jobs={jobs:3d} wall={wall:7.3f}")

    for name, build in BUILDS:
        if only and name not in only:
            # builds still must run (entries depend on them), just
            # without being reported
            build(spark, sf_dir)
            continue
        run(name, lambda b=build: b(spark, sf_dir))

    for name, spec in sorted(registry.REGISTRY.items()):
        if only and name not in only:
            continue
        run(name, lambda s=spec: s.fn(spark, sf_dir).toPandas())

    total_jobs = sum(j for _, j, _ in results)
    total_wall = sum(w for _, _, w in results)
    print(f"{'TOTAL':32s} jobs={total_jobs:3d} wall={total_wall:7.3f}")


if __name__ == "__main__":
    main()
