"""Benchmark harness (driver contract).

Runs the registry's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The IVF index build is measured once as its own entry ("ivf_build");
the IVF search queries then run against the cached index, mirroring
the deployment shape (background build, many searches,
reference: server/centroids.go:17-83).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_vectorsearch_spark import get_spark  # noqa: E402
from go_vectorsearch_spark import queries as registry  # noqa: E402


def _cpu_score() -> float:
    """Single-thread md5 iterations/ms over ~0.3 s — a box-speed probe.

    Recorded before and after the run so a reader can tell an engine
    regression from a slow-host period: at this SF the bench is
    scheduling/compile-latency bound and virtualized-host jitter has
    been observed to swing identical trees ±30 % (BASELINE.md); the
    score pins what the host was actually delivering during THIS run.
    """
    import hashlib

    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 0.3:
        hashlib.md5(str(n).encode()).digest()
        n += 1
    return round(n / ((time.perf_counter() - t0) * 1000), 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    cpu_before = _cpu_score()
    spark = get_spark("spark-vectorsearch-bench")

    timings: dict[str, float] = {}

    # Boot-vs-steady-state separation (the reference's prefTest also
    # excludes process boot): warm the long-lived-per-deployment JVM
    # infra on TINY SYNTHETIC data ONLY so one-time init isn't billed to
    # whichever registry query touches it first. The benchmark tables
    # are touched for nothing but per-table parquet FOOTER reads (schema
    # inference — a driver-side metadata read, no scan job); measured
    # queries stay cold-per-JVM.
    #   * Python UDF worker fork+import (process-reused afterwards)
    n_cpus = spark.sparkContext.defaultParallelism  # the session's local[N]
    spark.range(n_cpus).repartition(n_cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    #   * whole-stage-codegen / janino first compile (~3-5 s once per
    #     JVM, ~0.1-0.3 s per query afterwards), HOF + window + agg exec
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tiny = spark.range(64).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(4)),
            lambda i: F.conv(F.substring(F.md5(i.cast("string")), 1, 8), 16, 10),
        ).alias("arr"),
    )
    tiny.withColumn(
        "rn", F.row_number().over(Window.partitionBy(F.col("id") % 4).orderBy("id"))
    ).groupBy("rn").agg(F.count("*")).collect()
    #   * parquet write path (committer, codec, output format classes)
    #     then read the synthetic file back with a pushed filter: warms
    #     the vectorized reader + filter-pushdown classes without
    #     touching a single benchmark data page
    import tempfile

    wp = tempfile.mkdtemp(prefix="bench_warm_")
    spark.range(64).withColumn("p", F.col("id") % 4).repartition("p").write.mode(
        "overwrite"
    ).partitionBy("p").parquet(f"{wp}/warm")
    spark.read.parquet(f"{wp}/warm").filter(F.col("id") > 32).collect()
    #   * createDataFrame (Arrow/py4j local-relation conversion classes;
    #     first call measured ~2 s, billed to whichever recall query
    #     builds its tiny result frame first)
    spark.createDataFrame([(1, 1.0)], "a long, b double").collect()
    #   * broadcast-exchange executor pool + BroadcastHashJoin codegen
    spark.range(8).join(
        F.broadcast(spark.range(2).withColumnRenamed("id", "k")),
        F.col("id") == F.col("k"),
    ).count()
    #   * localCheckpoint path (RDD checkpoint machinery, block manager
    #     writes) — used by the IVF build and connected components
    spark.range(8).localCheckpoint(eager=True).count()
    #   * persist/unpersist path (memory store init)
    warm_p = spark.range(8).persist()
    warm_p.count()
    warm_p.unpersist()
    #   * benchmark-table footers only (allowed: driver-side metadata).
    #     Through load_table, not a bare spark.read.parquet: the loader
    #     owns the nanos-timestamp footer sniff — a bare read of a
    #     TIMESTAMP(NANOS) events layout throws on schema inference
    from go_vectorsearch_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).schema

    t0 = time.perf_counter()
    registry._ivf_index(spark, sf_dir)
    timings["ivf_build"] = round(time.perf_counter() - t0, 3)

    # one-time partitioned-store write, billed to its OWN entry exactly
    # like ivf_build (deployment amortizes it across every probe);
    # ivf_partitioned_probe then measures only the pruned-store read
    t0 = time.perf_counter()
    registry._ivf_store_path(spark, sf_dir)
    timings["ivf_store_build"] = round(time.perf_counter() - t0, 3)

    # THE corpus tokenize pass (one raw-text scan + split, shared by the
    # shingle frame, the substring window frame, and the decontamination
    # splits) — r8: previously each family re-tokenized the corpus
    t0 = time.perf_counter()
    registry._toks_cached(spark, sf_dir)
    timings["corpus_tokenize_build"] = round(time.perf_counter() - t0, 3)

    # the shared hashed-shingle frame (input of the whole text-dedup
    # family + decontamination) is likewise computed once per corpus;
    # bill its materialization to its own entry instead of whichever
    # family query alphabetically touches it first
    t0 = time.perf_counter()
    registry._shingled_cached(spark, sf_dir)
    timings["dedup_shingle_build"] = round(time.perf_counter() - t0, 3)

    # same for the bucket-on-write LSH frame shared by the three
    # ANN/LSH queries (at scale `_bucket` is a stored column)
    t0 = time.perf_counter()
    registry._lsh_bucketed_cached(spark, sf_dir)
    timings["ann_lsh_bucket_build"] = round(time.perf_counter() - t0, 3)

    # exact-substring window frame (one tokenize+md5 pass per corpus,
    # referenced twice by the duplicate-set plan) — billed like the
    # shingle frame above
    t0 = time.perf_counter()
    registry._substr_windows_cached(spark, sf_dir)
    timings["substr_window_build"] = round(time.perf_counter() - t0, 3)

    # the duplicated-window flags frame (_id, pos, _keep) shared by the
    # stats AND cut entries — the family's one duplicate-set shuffle,
    # paid once per corpus (r9; previously each entry re-aggregated the
    # window frame)
    t0 = time.perf_counter()
    registry._substr_flags_cached(spark, sf_dir)
    timings["substr_flags_build"] = round(time.perf_counter() - t0, 3)

    # PQ codebook train + corpus encode: the codes column is written
    # once per corpus at scale (same contract as the IVF assignment)
    t0 = time.perf_counter()
    registry._pq_cached(spark, sf_dir)
    timings["ann_pq_encode_build"] = round(time.perf_counter() - t0, 3)

    # PCA fit + corpus projection: the reduced column is write-once at
    # scale, same contract as the PQ codes above
    t0 = time.perf_counter()
    registry._pca_cached(spark, sf_dir)
    timings["pca_project_build"] = round(time.perf_counter() - t0, 3)
    # k=d exactness-anchor fit + projection (ann_pca_exact's store)
    t0 = time.perf_counter()
    registry._pca_exact_cached(spark, sf_dir)
    timings["pca_exact_build"] = round(time.perf_counter() - t0, 3)

    # BM25 inverted-index build (postings materialized once per corpus)
    # and the one-time bucketed postings store write — both amortized
    # background work, billed like ivf_build / ivf_store_build
    t0 = time.perf_counter()
    registry._bm25_cached(spark, sf_dir)
    timings["bm25_index_build"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    registry._bm25_store_path(spark, sf_dir)
    timings["bm25_store_build"] = round(time.perf_counter() - t0, 3)

    # r6 in-window pipeline operators: tokenizer training (word
    # histogram + driver merge loop) and n-gram LM training (per-order
    # gram counts) are one-time per-corpus model fits — billed to their
    # own entries like every build above; the registry queries then
    # measure ENCODE/SCORE, the per-document serving path
    t0 = time.perf_counter()
    registry._bpe_merges_cached(spark, sf_dir)
    timings["bpe_train_build"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    registry._ngram_lm_cached(spark, sf_dir)
    timings["ngram_train_build"] = round(time.perf_counter() - t0, 3)

    # per-job scheduling floor: the cost of an EMPTY Spark job on this
    # box right now (median of 5) — the data-independent latency every
    # one of the ~58 measured collects pays at least once; 0 % of the
    # cost at real scale, ~40 % of this bench's total at sf0.1
    floor_samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).collect()
        floor_samples.append(time.perf_counter() - t0)
    per_job_floor = round(sorted(floor_samples)[2], 4)

    # Materialization = the Arrow client path on BOTH engines (Spark
    # toPandas / DuckDB .arrow() below): row-object collect() spends up
    # to 3x the query's own runtime building Python Row objects for the
    # bulk-result entries, which benchmarks the py4j row codec, not the
    # engine. Arrow is how a real client consumes either engine.
    for name, spec in sorted(registry.REGISTRY.items()):
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).toPandas()
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    # Decomposition (extra keys; "value" stays the full total): the
    # oracle-checked 50 are what the DuckDB baseline actually runs;
    # the rest are index/recall diagnostics and one-time builds with
    # no oracle twin (build, store write, shared-frame materialization,
    # recall sweeps) — amortized background work in deployment,
    # mirroring the reference's background refresh
    # (server/centroids.go:17-83).
    oracle_names = {n for n, s in registry.REGISTRY.items() if s.oracle is not None}
    oracle_total = round(sum(v for n, v in timings.items() if n in oracle_names), 3)

    # The DuckDB oracle suite, SAME process, SAME minutes: host speed on
    # this box swings ±30% across hours (BASELINE.md), so a ratio of a
    # Spark total against a DuckDB total recorded on a different day
    # measures the weather, not the engine. Running both sides back to
    # back makes spark_vs_duckdb_oracle_ratio box-independent.
    duckdb_total = None
    duckdb_timings: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        try:
            from go_vectorsearch_spark.sources.tables import TABLE_NAMES

            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')"
                )
            name = None
            try:
                # per-statement twin timings (r12 verdict task 6): a
                # ratio excursion decomposes standalone into rotation
                # delta vs weather delta vs engine delta — previously
                # only the DuckDB TOTAL was recorded, so every
                # excursion needed BASELINE.md archaeology
                for name in sorted(oracle_names):
                    t0 = time.perf_counter()
                    con.execute(registry.REGISTRY[name].oracle).arrow()
                    duckdb_timings[name] = round(time.perf_counter() - t0, 3)
                duckdb_total = round(sum(duckdb_timings.values()), 3)
            except Exception as e:
                # context only — the bench metric never depends on it —
                # but a silent null would hide WHICH statement broke
                print(f"duckdb oracle pass failed at {name!r}: {e}", file=sys.stderr)
        finally:
            con.close()
    except Exception as e:
        print(f"duckdb oracle pass unavailable: {e}", file=sys.stderr)
    record = {
        "metric": "registry_queries_total",
        "value": total,
        "unit": "sec",
        "oracle_queries_sec": oracle_total,
        "diagnostics_and_builds_sec": round(total - oracle_total, 3),
        # decomposition counts: the oracle subset is what the
        # DuckDB baseline actually executes; everything else is
        # no-oracle diagnostics + one-time builds (amortized
        # background work in deployment) with no DuckDB twin
        "n_timed_entries": len(timings),
        "n_oracle_entries": sum(1 for n in timings if n in oracle_names),
        # environment context (see BASELINE.md's measurement
        # caveat): single-thread md5 iters/ms before/after, and
        # the median empty-job latency on this box during the run
        "cpu_score_before": cpu_before,
        "cpu_score_after": _cpu_score(),
        "per_job_floor_sec": per_job_floor,
        # same-box, same-minutes DuckDB run of the 50 oracle
        # statements; ratio = oracle_queries_sec / this
        "duckdb_oracle_total_sec": duckdb_total,
        "spark_vs_duckdb_oracle_ratio": (
            round(oracle_total / duckdb_total, 3) if duckdb_total else None
        ),
        "queries": timings,
        # per-oracle twin walls, same keys as the oracle subset of
        # "queries": {name: spark "queries"[name] vs duckdb_queries[name]}
        "duckdb_queries": duckdb_timings,
        "sf": sf,
    }
    # full record: one JSON line (the original contract) + a disk copy
    # the driver can always read whole
    print(json.dumps(record))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json"),
            "w",
        ) as f:
            json.dump(record, f, indent=1)
    except OSError as e:
        print(f"could not write BENCH.json: {e}", file=sys.stderr)
    # FINAL line: the driver parses the LAST JSON line of a tail-limited
    # capture, so it must be (a) complete inside that tail and (b) carry
    # the contract's "queries" map — r13's compact summary omitted the
    # map to stay small and the driver's per-query comparator came back
    # empty (PERF_r13 per_query {}, bench_ok false). Compact separators
    # put summary+queries at ~2.2 KB (measured), well inside the ~4 KB
    # tail; only duckdb_queries (repo-side context, +1.3 KB, not part of
    # the driver contract) stays in the full line + BENCH.json.
    summary = {k: v for k, v in record.items() if k != "duckdb_queries"}
    summary["duckdb_queries_in"] = "BENCH.json"
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
