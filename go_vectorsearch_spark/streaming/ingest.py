"""Continuous embedding ingest — the streaming twin of upload.

The reference ingests via request-sized batches: every upload assigns
its new chunk vectors to the CURRENT centroids and appends rows whose
``centroid_id`` joins them to existing inverted lists; the index
rebuild is a separate background job (server/upload.go:239-313,
server/centroids.go:17-83). At the 100 TB design point ingest is a
stream, so this module restates that contract with Structured
Streaming:

    readStream(embeddings)
      -> nearest-centroid assignment against a STATIC centroid frame
         (stream-static: the per-batch map uses the centroids as of
         query start, exactly like an upload uses the centroids as of
         its request)
      -> foreachBatch append into the partitionBy("centroid_id")
         store (idempotent per-epoch overwrite, streaming/events.
         stream_to_parquet), so searches prune the new rows' partitions
         the same way they prune the bulk-built store.

Assignment reuses ``operators/assign.assign_nearest`` — both its
codegen'd expression path and its Arrow GEMM path are per-row maps
with no shuffle, hence legal and efficient inside a streaming query.

Small-file pressure is the known cost of streaming appends (one file
per epoch per centroid); :func:`compact_partitioned` rewrites a
partitioned directory to O(1) files per partition and is the
compaction job a deployment schedules, mirroring how the reference
amortizes upkeep into the background refresh.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_vectorsearch_spark.operators.assign import assign_nearest
from go_vectorsearch_spark.streaming.events import (
    read_parquet_sink,
    stream_to_parquet,
)


def read_embeddings_stream(
    spark: SparkSession, sf_dir: str, schema=None
) -> DataFrame:
    """File-source stream over the embeddings table (the test harness's
    stand-in for a message bus; the file source gives the same
    micro-batch semantics)."""
    return _read_table_stream(spark, sf_dir, "embeddings", schema)


def assign_stream(
    stream_df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Stream-static nearest-centroid assignment. ``centroids`` is a
    static driver-sized frame by the index contract (it broadcasts into
    every micro-batch as plan literals / a closure matrix — no shuffle,
    no state). Centroids are fixed for the lifetime of the streaming
    query; a rebuild means restarting the ingest query with the new
    frame, the same cutover the reference's background refresh does."""
    return assign_nearest(
        stream_df,
        centroids.select(
            F.col("centroid_id"), F.col("centroid_vec")
        ),
        vec_col=vec_col,
        out_col=out_col,
    )


def ingest_embeddings_stream(
    stream_df: DataFrame,
    centroids: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
) -> None:
    """Drain the embedding stream into a partitioned store slice:
    assign -> idempotent per-epoch parquet append partitioned by
    centroid_id. Read back with
    ``streaming.events.read_parquet_sink``; union with the bulk store
    for search."""
    assigned = assign_stream(stream_df, centroids, vec_col=vec_col)
    stream_to_parquet(
        assigned, store_path, checkpoint_dir, partition_by="centroid_id"
    )


def compact_partitioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_col: str = "centroid_id",
    drop_cols: tuple = ("_epoch",),
) -> None:
    """Compact a partitioned directory (e.g. an ingest sink's
    per-epoch files) into one file per partition value at
    ``dst_path``: one shuffle keyed by the partition column, so each
    partition's rows land in a single write task — the same file-count
    argument as plans/ivf.write_partitioned. Writes to a NEW directory
    (copy-on-write, like api's versioned tables): the reader flips to
    ``dst_path`` when the job commits, and a crash mid-compaction
    leaves the source untouched."""
    df = spark.read.option("basePath", src_path).parquet(src_path)
    for c in drop_cols:
        if c in df.columns:
            df = df.drop(c)
    (
        df.repartition(partition_col)
        .write.mode("errorifexists")
        .partitionBy(partition_col)
        .parquet(dst_path)
    )


def _read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over one testdata table — the harness's
    stand-in for a message bus, and THE one definition of the
    basePath + single-file ``[t]`` glob trick (a one-character class,
    NOT a typo: the file-stream source wants a directory; the glob
    restricts it to exactly that table's parquet file while keeping
    directory-source semantics). ``max_files_per_trigger`` splits the
    drain into one micro-batch per file (the multi-batch test shape)."""
    if schema is None:
        schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("basePath", sf_dir).parquet(
        f"{sf_dir}/{table}.parque[t]"
    )


def read_documents_stream(
    spark: SparkSession, sf_dir: str, schema=None
) -> DataFrame:
    return _read_table_stream(spark, sf_dir, "documents", schema)


def ingest_documents_text_index(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous text-index maintenance: each micro-batch of documents
    becomes a delta BM25 index appended into the stored postings layout
    through :func:`~go_vectorsearch_spark.operators.fulltext.
    append_postings_epoch` — epoch-keyed batch directories give
    exactly-once growth under foreachBatch's at-least-once replay, and
    the versioned manifest keeps concurrent lock-free searchers on
    complete snapshots while the stream appends. The store must exist
    (write_postings) before the stream starts, mirroring
    Engine.append_text_index's build-first contract. Returns the
    started StreamingQuery (AvailableNow trigger: drains what exists,
    then stops — tests and batch-backfill shape)."""
    from go_vectorsearch_spark.operators.fulltext import (
        append_postings_epoch,
        build_bm25_index,
    )

    # the stream identity is the checkpoint's CONTENT, not its path: a
    # one-time random token persisted inside the checkpoint directory
    # on first start. Resuming the same checkpoint resumes its epoch
    # numbering (replays dedup against the same stream_id); deleting
    # and recreating the checkpoint at the SAME path (a routine ops
    # reset) mints a FRESH token, so the restarted stream's epoch 0
    # does not collide with the old stream's applied keys — a
    # path-derived id would make every recreated-checkpoint micro-batch
    # look like a replay and silently drop it.
    import hashlib
    import uuid

    from go_vectorsearch_spark.sources.io import atomic_write
    from go_vectorsearch_spark.streaming import require_local_path

    # the token must live INSIDE the checkpoint and travel with it; a
    # driver-local file beside a remote checkpoint would mint a fresh
    # id after driver failover and re-apply a replayed epoch (doubling
    # postings) — refuse remote URIs loudly instead
    require_local_path(checkpoint_dir, "ingest_documents_text_index checkpoint_dir")
    os.makedirs(checkpoint_dir, exist_ok=True)
    token_file = os.path.join(checkpoint_dir, "_gvs_stream_id")
    if not os.path.exists(token_file):
        # upgrade path: a checkpoint that already holds Spark state
        # (offsets/ etc.) predates the token scheme — its epochs were
        # applied under the old md5(abspath)-derived id, so seed the
        # token with THAT id; minting a fresh one would let a replayed
        # in-flight epoch (the at-least-once case the applied-keys
        # dedup exists for) re-apply under the new id, doubling those
        # documents' postings and inflating n_docs/sum_dl
        if any(
            os.path.exists(os.path.join(checkpoint_dir, p))
            for p in ("offsets", "commits", "metadata")
        ):
            token = hashlib.md5(
                os.path.abspath(checkpoint_dir).encode()
            ).hexdigest()[:8]
        else:
            token = uuid.uuid4().hex[:16]
        # atomic: a crash mid-write must not leave a short/empty token
        # that reads back as a different stream id
        atomic_write(token_file, token)
    with open(token_file) as f:
        stream_id = f.read().strip()

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = build_bm25_index(batch_df, id_col=id_col, text_col=text_col)
        append_postings_epoch(
            delta, store_path, int(epoch_id), stream_id=stream_id
        )

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
