"""Service-parity library API: upload / search / categories / delete /
refresh over managed tables.

The reference's HTTP surface (§2.11 of SURVEY.md) as library functions:

  * upload   — server/upload.go:111-323: flatten → chunk → embed →
               assign-to-centroid → persist documents + embeddings
  * search   — server/search.go:115-334: embed query → prune centroids →
               scan probed partitions → deduped top-k → hydrate documents
  * fetch_category_names — server/fetch.go:19-124
  * delete_{owner,category,document} — server/delete.go:214-288 with the
               schema's ON DELETE CASCADE, re-expressed as top-down
               anti-joins that rewrite each child table
  * refresh_index — server/centroids.go:17-83 → plans/ivf.build_index

Storage is a poor-man's versioned table format: immutable data
directories + a tiny JSON manifest per version mapping partition value
-> directories (the moral equivalent of what Delta/Iceberg do, with
none of the machinery; at real scale you'd swap `_VersionedTable` for
Delta and the append/overwrite-partitions calls stay the same shape).
Mutations are PARTITION-SCOPED: uploads append new files only, a
document delete rewrites one hash bucket of `documents` plus the few
centroid lists its chunks lived in — never the table. Embeddings
partition by centroid_id so search's probed scan prunes at the
manifest level, exactly the IVF inverted-list layout
(database/model.go:16's indexed FK column, §1.4 of SURVEY.md).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager as _contextmanager
import time
from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_vectorsearch_spark.operators.relational import lookup_by_keys
from go_vectorsearch_spark.sources.io import atomic_write
from go_vectorsearch_spark.sources.io import local_frame as _local_frame

from go_vectorsearch_spark.functions.vector import dequantize, quantize, vector_range
from go_vectorsearch_spark.operators.assign import assign_nearest
from go_vectorsearch_spark.operators.documents import (
    SEARCH_QUERY_PREFIX,
    noop_embed,
    prepare_chunks,
)
from go_vectorsearch_spark.operators.search import (
    brute_force_topk,
    brute_force_topk_with_vector,
    mmr_select,
    normalize_search_args,
)

EMBED_DIM = 64  # matches the driver testdata's embedding width

# The managed embeddings table stores QUANTIZED codes + the f32 range —
# never full-precision floats. This mirrors the reference exactly: vectors
# are quantized at JSON-decode time (ai/aicomms/embed.go:42-50) and the
# database only ever sees the [lo f32][hi f32][codes u8] form
# (compute/quantization.go:71-80); every consumer dequantizes in-flight.
# At 100 TB this is the 4x memory/storage headline: 1 byte per dim + 8
# bytes per vector instead of 4 bytes per dim.
# per-table UNIQUE id column, declared (not derived from DDL order):
# the change feed's keyed diff is only correct on a per-snapshot-unique
# key (_VersionedTable.changes)
_TABLE_KEYS = {
    "owners": "owner_id",
    "categories": "category_id",
    "documents": "document_id",
    "embeddings": "embedding_id",
    "centroids": "centroid_id",
}

# documents partition into hash buckets of the primary key so a point
# delete/upsert rewrites ONE bucket, not the corpus; embeddings partition
# by centroid_id (the IVF inverted-list layout — search's probed scan
# reads only the probed lists). Sized so one bucket of a 100 TB corpus
# is still a bounded rewrite; buckets are manifest-level, so re-bucketing
# is just a full write() with a new expression.
N_DOC_BUCKETS = 32
N_BAND_BUCKETS = 16  # near-dup band-store partitions (band-key hash)
# span-cut commit shape switch: at or below this many changed documents
# the write path uses point-delete machinery (driver-held id lists —
# manifest tombstones, isin literals pruned at the scan; the r6 IVF
# split loop learned the same cap); above it everything stays
# frame-shaped end-to-end — a realistic whole-corpus cut changes
# 10-50% of documents, which at the 100 TB design point is 1e8+ ids
# that must never be collect()ed, isin()ed, or written into a manifest.
# Why 10k here while the registry plan lint caps IN literals at 256
# (tests/test_plan_lint.py): the lint guards READ plans that execute
# once per query over the full corpus, where a literal whose size
# tracks the data is the smell being hunted — so its cap sits just
# above the registry's bounded design constants (probe lists, bucket
# sets). This cap bounds a WRITE-path literal that (a) is a fixed
# engine constant, never data-derived growth, (b) executes once per
# admin mutation, not per serving query, and (c) exists precisely to
# keep the manifest tombstone list (one row per changed doc) worth
# more than a rebuild — at 10k ids the serialized literal is ~100 KB
# of plan, negligible against the rewrite it prunes. Lowering it to
# 256 would push 99% of realistic targeted cuts onto the whole-store
# rebuild path for no scan saving.
BULK_REWRITE_CAP = 10_000
_PARTITION_EXPRS = {
    "embeddings": "centroid_id",
    "documents": f"pmod(document_id, {N_DOC_BUCKETS})",
}

_SCHEMAS = {
    "owners": "owner_id long, name string",
    "categories": "category_id long, name string, owner_id long",
    "documents": (
        "document_id long, name string, external_id string, "
        "payload_json string, category_id long"
    ),
    "embeddings": (
        "embedding_id long, document_id long, centroid_id long, "
        "codes array<int>, lo float, hi float"
    ),
    "centroids": "centroid_id long, category_id long, vector array<float>",
}


def quantized_store(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    precision: str = "float32",
) -> DataFrame:
    """Convert a float-vector frame to the engine's canonical quantized
    form: (id, codes array<int>, lo float, hi float), per-vector
    0-anchored f32 range (§1.3 semantics). Pure Catalyst expressions.
    precision="float64" runs the affine map in double for engines that
    must reproduce the codes without f32 arithmetic (the oracle)."""
    lo, hi = vector_range(F.col(vec_col))
    with_range = emb.select(
        F.col(id_col), F.col(vec_col).alias("_raw"), lo.alias("lo"), hi.alias("hi")
    )
    return with_range.select(
        id_col,
        quantize(F.col("_raw"), F.col("lo"), F.col("hi"), precision).alias("codes"),
        "lo",
        "hi",
    )


def dequantized_vector(store: DataFrame, out_col: str = "vector") -> DataFrame:
    """Attach the dequantize-in-expression working vector to a quantized
    store frame — the scoring path never materializes a float table; the
    dequantize folds into the downstream cosine expression inside
    whole-stage codegen."""
    return store.withColumn(
        out_col, dequantize(F.col("codes"), F.col("lo"), F.col("hi"), "float32")
    )


class NearDupIndexMissing(ValueError):
    """upload(neardup="skip") / neardup_check against a category with no
    built band index — a CLIENT error (the caller must run
    build_neardup_index first). Its own type so the HTTP layer can map
    exactly this case to 400 without catching engine-internal
    ValueErrors raised later in the upload (embed failures, malformed
    stored JSON), which must stay 500s."""


class _VersionedTable:
    """Manifest-versioned parquet table with PARTITION-SCOPED writes.

    Layout (a hand-rolled miniature of what Delta/Iceberg do):

      <dir>/VERSION        — pointer to the current version number
      <dir>/v{N}           — manifest FILE for version N (JSON): maps
                             partition value -> list of immutable data
                             directories composing that partition
      <dir>/_data/w{N}/    — write batch N's parquet files; partitioned
                             tables get one ``_p=<value>`` subdir per
                             touched value (the partition column itself
                             stays IN the data files; ``_p`` only names
                             the directory)

    A snapshot is a manifest; data directories are immutable and SHARED
    across versions, so a mutation that touches K partitions writes K
    new directories and carries every other partition over by reference
    — a one-document delete no longer rewrites the table (the round-3
    verdict's 100 TB write-path scale-killer). Readers resolve the
    pointer once and scan immutable paths, so they keep their snapshot
    regardless of concurrent writers; time travel = reading an older
    manifest.

    ``partition_expr`` is a SQL expression string (e.g. ``centroid_id``
    or ``pmod(document_id, 32)``) evaluated at write time to route rows
    to partitions; callers pass plain Python values of that expression
    to :meth:`read`'s ``partition_values`` / :meth:`overwrite_partitions`.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        schema: str,
        vacuum_min_age_s: float = 0.0,
        partition_expr: str | None = None,
    ):
        self.spark, self.name, self.schema = spark, name, schema
        self.partition_expr = partition_expr
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)
        self._ptr = os.path.join(self.dir, "VERSION")
        self._lock_tls = threading.local()  # _write_lock reentrancy depth
        # retention grace: never GC a data directory younger than this,
        # so a reader that resolved its manifest and is mid-scan keeps
        # its snapshot even if the keep-window count has moved past it
        # (two quick writes would otherwise rmtree the files under an
        # in-flight multi-second job). 0 = count-only (unit tests).
        self.vacuum_min_age_s = vacuum_min_age_s

    def _version(self) -> int:
        if not os.path.exists(self._ptr):
            return -1
        with open(self._ptr) as f:
            return int(f.read().strip())

    def versions(self) -> list[int]:
        """Version numbers still on disk (ascending) — the snapshots a
        time-travel read can target. Bounded by the write-time vacuum
        keep window."""
        out = []
        for d in os.listdir(self.dir):
            if d.startswith("v") and d[1:].isdigit():
                out.append(int(d[1:]))
        return sorted(out)

    # -- manifest plumbing --------------------------------------------------
    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v}")

    def _manifest(self, v: int) -> dict[str, list[str]]:
        """parts mapping of version v: partition value (as string; "" for
        unpartitioned) -> data dirs relative to the table dir."""
        import json

        path = self._manifest_path(v)
        if not os.path.isfile(path):
            raise KeyError(
                f"{self.name}: version {v} not on disk "
                f"(available: {self.versions()})"
            )
        with open(path) as f:
            return json.load(f)["parts"]

    @_contextmanager
    def _write_lock(self):
        """CROSS-PROCESS writer serialization: an OS advisory flock held
        for a mutation's whole read-version → write-batch → commit
        critical section. Two service replicas over one table root
        would otherwise both read VERSION=v and both write _data/w{v+1}
        (the second's overwrite deleting the first's files) — the
        in-process Service lock cannot see the other process. Reentrant
        per thread (upsert/compact wrap the primitives); a second
        THREAD or PROCESS blocks on the flock, so read-modify-write
        mutations serialize everywhere the root is a shared local/NFS
        mount. Readers take no lock — they resolve the pointer once and
        scan immutable paths (snapshot isolation unchanged)."""
        import fcntl

        tls = self._lock_tls
        depth = getattr(tls, "depth", 0)
        if depth == 0:
            f = open(os.path.join(self.dir, "_lock"), "w")
            fcntl.flock(f, fcntl.LOCK_EX)
            tls.fd = f
        tls.depth = depth + 1
        try:
            yield
        finally:
            tls.depth -= 1
            if tls.depth == 0:
                fcntl.flock(tls.fd, fcntl.LOCK_UN)
                tls.fd.close()

    def _commit(self, v: int, parts: dict[str, list[str]], keep: int) -> None:
        """Publish version ``v``: the manifest first, then the pointer,
        each replaced atomically, so a lock-free reader resolves either
        the old version or the new one."""
        import json

        atomic_write(self._manifest_path(v), json.dumps({"parts": parts}))
        atomic_write(self._ptr, str(v))
        self._vacuum(v, keep)

    def _write_batch(self, df: DataFrame, v: int) -> dict[str, list[str]]:
        """Write df as immutable batch w{v}; return its parts mapping.

        mode("overwrite"): a FAILED prior attempt at this version (write
        job died after creating the directory, before _commit moved the
        VERSION pointer) leaves an orphan w{v} no manifest references;
        the next mutation recomputes the same v and must be able to
        reclaim the path, or the table wedges on error-if-exists
        forever. Committed batches are never at risk — the pointer
        advance makes v unreachable for later writers."""
        rel = os.path.join("_data", f"w{v}")
        path = os.path.join(self.dir, rel)
        if self.partition_expr:
            # route each value's rows to ONE task before partitionBy:
            # without the repartition every write task emits a file per
            # value (tasks x values small files at cluster scale)
            (
                df.withColumn("_p", F.expr(self.partition_expr).cast("string"))
                .repartition(F.col("_p"))
                .write.mode("overwrite")
                # static overwrite: reclaim the WHOLE orphan dir — under
                # a session-level dynamic partitionOverwriteMode the
                # orphan's unmatched _p dirs would survive and corrupt
                # the listdir-derived parts mapping below
                .option("partitionOverwriteMode", "static")
                .partitionBy("_p")
                .parquet(path)
            )
            return {
                d.split("=", 1)[1]: [os.path.join(rel, d)]
                for d in os.listdir(path)
                if d.startswith("_p=")
            }
        df.write.mode("overwrite").parquet(path)
        return {"": [rel]}

    def read(
        self,
        version: int | None = None,
        partition_values: Sequence | None = None,
    ) -> DataFrame:
        """Read the current snapshot, or time-travel to ``version``.

        ``partition_values`` prunes the scan to those partitions at the
        MANIFEST level — untouched directories are never even listed
        (engine-side partition pruning, the IVF inverted-list skip).
        Raises KeyError for a version the vacuum window already dropped
        — callers must not silently get a different snapshot than they
        asked for.
        """
        v = self._version() if version is None else version
        if v < 0:
            if version is not None:
                raise KeyError(f"{self.name}: version {version} not on disk")
            return _local_frame(self.spark, [], self.schema)
        parts = self._manifest(v)
        if partition_values is not None:
            keys = {str(x) for x in partition_values}
            dirs = [d for k in sorted(keys & parts.keys()) for d in parts[k]]
        else:
            dirs = [d for k in sorted(parts) for d in parts[k]]
        if not dirs:
            return _local_frame(self.spark, [], self.schema)
        return (
            self.spark.read.schema(self.schema)
            # recursiveFileLookup disables partition-dir inference, so
            # the ``_p=`` path component never surfaces as a column
            .option("recursiveFileLookup", "true")
            .parquet(*[os.path.join(self.dir, d) for d in dirs])
        )

    def write(self, df: DataFrame, keep_versions: int = 2) -> None:
        """Full-snapshot rewrite — for tiny metadata tables and whole-
        table transformations (index refresh reassigns every row). Data-
        plane mutations use :meth:`append` / :meth:`overwrite_partitions`."""
        with self._write_lock():
            v = self._version() + 1
            self._commit(v, self._write_batch(df, v), keep_versions)

    def append(self, df: DataFrame, keep_versions: int = 2) -> None:
        """Add rows without rewriting ANY existing data: the new manifest
        carries every prior directory by reference and adds the new
        batch's. Upload's shape (server/upload.go:288-304's INSERTs)."""
        with self._write_lock():
            v = self._version() + 1
            parts = dict(self._manifest(v - 1)) if v > 0 else {}
            for key, dirs in self._write_batch(df, v).items():
                parts[key] = parts.get(key, []) + dirs
            self._commit(v, parts, keep_versions)

    def overwrite_partitions(
        self, df: DataFrame, partition_values: Sequence, keep_versions: int = 2
    ) -> None:
        """Replace ONLY the named partitions with df's rows for them
        (df is filtered to those partitions — callers pass the full
        survivor plan); every other partition is carried over by
        reference. Spark's dynamic partition overwrite, expressed at
        the manifest level so old snapshots stay readable."""
        if not self.partition_expr:
            raise ValueError(f"{self.name}: table is not partitioned")
        keys = {str(x) for x in partition_values}
        if not keys:
            return
        with self._write_lock():
            v = self._version() + 1
            scoped = df.filter(
                F.expr(self.partition_expr)
                .cast("string")
                .isin([str(x) for x in partition_values])
            )
            parts = {
                k: d for k, d in (self._manifest(v - 1) if v > 0 else {}).items()
                if k not in keys
            }
            parts.update(self._write_batch(scoped, v))
            self._commit(v, parts, keep_versions)

    def replace_partitions(
        self,
        df: DataFrame,
        remove_values: Sequence,
        keep_versions: int = 2,
    ) -> None:
        """One atomic commit that DROPS the named partitions and APPENDS
        ``df``'s rows to whatever partitions they route to — the
        cross-partition move primitive (incremental index refresh:
        a split's members leave the old centroid's partition for new
        ones; a dissolved leaf's members join surviving partitions).
        Unlike :meth:`overwrite_partitions`, df is NOT filtered to the
        removed keys — its rows may land in partitions that also carry
        existing directories (append semantics there). A reader never
        sees the in-between state a remove-then-append pair would
        expose (rows doubled or missing for one version)."""
        if not self.partition_expr:
            raise ValueError(f"{self.name}: table is not partitioned")
        with self._write_lock():
            v = self._version() + 1
            remove = {str(x) for x in remove_values}
            parts = {
                k: d
                for k, d in (self._manifest(v - 1) if v > 0 else {}).items()
                if k not in remove
            }
            for key, dirs in self._write_batch(df, v).items():
                parts[key] = parts.get(key, []) + dirs
            self._commit(v, parts, keep_versions)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        key: str | None = None,
    ) -> DataFrame:
        """Change feed between two snapshots (Delta CDF's
        ``table_changes`` analog, computed on demand from the immutable
        version directories): every row of the newer snapshot not in the
        older one tagged ``insert``, every departed row tagged
        ``delete``, and — when ``key`` names the table's id column —
        rows present on both sides with changed content tagged
        ``update_preimage``/``update_postimage``.

        Plans (all minimal-diff shapes): keyless mode is two
        ``exceptAll`` set-diffs (one shuffle each over hashed full
        rows); keyed mode is two anti-joins on the key plus one
        key-join of md5(row-json) digests to find updates — the key
        and a 32-hex digest shuffle, never double-width rows. Output =
        table columns + ``_change_type``. Keyed mode assumes ``key``
        is unique per snapshot (true for every engine table's id
        column); duplicated keys would mis-classify updates — use
        keyless mode for non-unique data.
        """
        old = self.read(from_version)
        new = self.read(to_version)
        ct = F.lit
        if key is None:
            return new.exceptAll(old).withColumn(
                "_change_type", ct("insert")
            ).unionByName(
                old.exceptAll(new).withColumn("_change_type", ct("delete"))
            )
        cols = new.columns
        digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
        o = old.withColumn("_d", digest)
        n = new.withColumn("_d", digest)
        inserted = n.join(o.select(key), key, "left_anti").withColumn(
            "_change_type", ct("insert")
        )
        deleted = o.join(n.select(key), key, "left_anti").withColumn(
            "_change_type", ct("delete")
        )
        changed_keys = (
            n.select(key, F.col("_d").alias("_dn"))
            .join(o.select(key, F.col("_d").alias("_do")), key)
            .filter(F.col("_dn") != F.col("_do"))
            .select(key)
        )
        pre = o.join(changed_keys, key, "left_semi").withColumn(
            "_change_type", ct("update_preimage")
        )
        post = n.join(changed_keys, key, "left_semi").withColumn(
            "_change_type", ct("update_postimage")
        )
        out = inserted.unionByName(deleted).unionByName(pre).unionByName(post)
        return out.select(*cols, "_change_type")

    def upsert(self, df: DataFrame, key: str, keep_versions: int = 2) -> None:
        """MERGE by unique key: rows whose ``key`` exists are replaced,
        new keys are inserted — the reference's GORM ``Save`` upsert
        (dnc/dnc.go:159-162) generalized to any table. Partition-scoped:
        only partitions the INCOMING rows land in are rewritten (their
        survivors = old rows anti-joined on the incoming key set), every
        other partition is carried by reference; unpartitioned tables
        fall back to a full anti-join rewrite (they are metadata-sized).

        Assumes ``key`` is unique per snapshot. A row MAY move
        partitions (an embedding reassigned to a new centroid): the
        touched set is the union of the partitions the incoming rows
        land in and the partitions currently holding the incoming keys
        (one key-semi-join scan — the match-finding pass every MERGE
        pays), so no stale twin is left behind."""
        with self._write_lock():
            self._upsert_locked(df, key, keep_versions)

    def _upsert_locked(self, df: DataFrame, key: str, keep_versions: int) -> None:
        if not self.partition_expr:
            old = self.read()
            self.write(
                old.join(df.select(key), key, "left_anti").unionByName(df),
                keep_versions=keep_versions,
            )
            return
        part = F.expr(self.partition_expr)
        new_parts = {r[0] for r in df.select(part).distinct().collect()}
        old_parts = {
            r[0]
            for r in self.read()
            .join(df.select(key), key, "left_semi")
            .select(part)
            .distinct()
            .collect()
        }
        touched = sorted(new_parts | old_parts)
        if not touched:
            return
        survivors = self.read(partition_values=touched).join(
            df.select(key), key, "left_anti"
        )
        self.overwrite_partitions(
            survivors.unionByName(df), touched, keep_versions=keep_versions
        )

    def compact(self, min_dirs: int = 2, keep_versions: int = 2) -> list[str]:
        """Collapse every partition whose manifest lists >= ``min_dirs``
        directories into ONE directory (the append path accumulates a
        directory per upload per touched partition — the classic
        small-file problem; same job as streaming/ingest's
        compact_partitioned and Delta's OPTIMIZE). One new snapshot;
        partitions already compact are carried by reference, so the
        rewrite cost is proportional to the fragmented data only.
        Returns the partition keys compacted."""
        with self._write_lock():
            return self._compact_locked(min_dirs, keep_versions)

    def _compact_locked(self, min_dirs: int, keep_versions: int) -> list[str]:
        v = self._version()
        if v < 0:
            return []
        parts = self._manifest(v)
        victims = sorted(k for k, dirs in parts.items() if len(dirs) >= min_dirs)
        if not victims:
            return []
        if not self.partition_expr:
            self.write(self.read(), keep_versions=keep_versions)
            return victims
        self.overwrite_partitions(
            self.read(partition_values=victims), victims, keep_versions=keep_versions
        )
        return victims

    def _vacuum(self, current: int, keep: int) -> None:
        """Drop manifests older than the ``keep`` most recent, then
        garbage-collect data directories no surviving manifest
        references (what Delta's VACUUM exists for) — but never sooner
        than ``vacuum_min_age_s`` after the directory was FIRST
        OBSERVED dereferenced (retention.deref_expired's sentinel; the
        same retention idea as Delta's VACUUM ... RETAIN, measured from
        dereference rather than the write mtime — a batch written hours
        ago can be superseded a second ago while a reader who resolved
        the old manifest is still mid-scan). Shared directories
        referenced by any live manifest survive indefinitely — that
        sharing is what makes a mutation cost O(touched partitions),
        not O(table)."""
        import shutil

        from go_vectorsearch_spark.retention import deref_expired

        for old in range(max(0, current - keep + 1)):
            p = self._manifest_path(old)
            if os.path.isfile(p):
                os.remove(p)
        referenced: set[str] = set()
        for v in self.versions():
            try:
                for dirs in self._manifest(v).values():
                    referenced.update(dirs)
            except (KeyError, ValueError):
                continue
        data_root = os.path.join(self.dir, "_data")
        if not os.path.isdir(data_root):
            return
        grace = self.vacuum_min_age_s
        for batch in os.listdir(data_root):
            bpath = os.path.join(data_root, batch)
            brel = os.path.join("_data", batch)
            if not os.path.isdir(bpath) or brel in referenced:
                continue
            live = False
            for child in os.listdir(bpath):
                if not child.startswith("_p="):
                    continue
                cpath = os.path.join(bpath, child)
                if os.path.join(brel, child) in referenced:
                    live = True
                    continue
                if not deref_expired(cpath, grace):
                    live = True
                    continue
                shutil.rmtree(cpath, ignore_errors=True)
            if live:
                continue
            if deref_expired(bpath, grace):
                shutil.rmtree(bpath, ignore_errors=True)


# result schemas of the search family: one query's page, and the
# batched pages keyed by the query's index into the request
_SEARCH_RESULT = (
    "document_id long, name string, external_id string, "
    "payload_json string, score double"
)
_MANY_RESULT = f"q_ix long, {_SEARCH_RESULT}"


def _rank_probe_ids(
    cent_rows: list[tuple[int, list[float]]],
    query_vec: Sequence[float],
    nprobe: int,
) -> list[int]:
    """T1: top-nprobe centroid ids by cosine over the TTL-cached rows —
    a thin adapter over the one probe-ranker implementation
    (plans/ivf._rank_centroids), passing the engine's 6-decimal edge
    rounding so the probe set matches brute_force_topk's
    (round(score, 6) desc, id asc) total order; zero-norm sides score
    0.0 in the shared kernel."""
    import numpy as np

    from go_vectorsearch_spark.plans.ivf import _rank_centroids

    if not cent_rows:
        return []
    ids = np.array([c[0] for c in cent_rows], dtype=np.int64)
    mat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    return _rank_centroids(ids, mat, list(query_vec), nprobe, round_decimals=6)


class _TTLCache:
    """M2: TTL read-through cache with singleflight dedup — the serving
    layer's metadata cache (cache/middleware.go:18-163 + cache/cache.go:
    38-79, CACHE_DURATION=5 s, config/constants.go:15). Concurrent loads
    of the same key collapse onto ONE loader call (a per-key lock is Go
    singleflight's moral equivalent); a ``None`` result is never cached
    (the reference caches only successful fetches). Mutations call
    :meth:`clear` — stricter than the reference's pure TTL expiry, so a
    single-process engine never serves stale metadata to itself; other
    processes on the same root are bounded by the TTL, as in the
    reference."""

    def __init__(self, ttl_s: float):
        self.ttl_s = ttl_s
        self._lock = threading.Lock()
        self._items: dict = {}  # key -> (expires_at, value)
        self._inflight: dict = {}  # key -> per-key loader gate
        self._gen = 0  # bumped by clear(): fences in-flight loaders

    def get(self, key, loader):
        with self._lock:
            hit = self._items.get(key)
            if hit and hit[0] > time.monotonic():
                return hit[1]
            gate = self._inflight.get(key)
            if gate is None:
                gate = self._inflight[key] = threading.Lock()
            gen = self._gen
        with gate:
            with self._lock:
                # the flight we queued behind may have filled the entry
                hit = self._items.get(key)
                if hit and hit[0] > time.monotonic():
                    return hit[1]
                gen = self._gen  # re-read under the gate
            value = loader()
            with self._lock:
                # a clear() DURING the load means this value is a
                # pre-mutation snapshot — return it to the caller (their
                # read began before the mutation; snapshot semantics)
                # but do NOT cache it, or every request for a full TTL
                # would probe centroids / resolve categories the
                # mutation just dropped
                if value is not None and gen == self._gen:
                    self._items[key] = (time.monotonic() + self.ttl_s, value)
                self._inflight.pop(key, None)
            return value

    def clear(self) -> None:
        with self._lock:
            self._items.clear()
            self._gen += 1


def assign_embedding_ids(
    chunks: DataFrame, base_emb: int, base_doc: int, stride: int | None = None
) -> DataFrame:
    """Unique, deterministic embedding_id per (doc_id, chunk_idx) with NO
    global sort: id = base + (doc_id - base_doc) * stride + chunk_idx,
    stride = max chunks per doc in the batch (one tiny agg job). A
    row_number over an unpartitioned Window would funnel the whole batch
    through one task — fine for request-sized uploads, the wrong shape
    for bulk ingest. Ids are gappy (stride over-allocates); id allocation
    is max+1 so gaps are harmless."""
    if stride is None:
        stride = (chunks.agg(F.max("chunk_idx")).head()[0] or 0) + 1
    return chunks.withColumn(
        "embedding_id",
        F.lit(base_emb)
        + (F.col("doc_id") - F.lit(base_doc)) * F.lit(stride)
        + F.col("chunk_idx"),
    )


class Engine:
    """The vector-search engine over managed tables (one instance ~ one
    reference server process; a 'deployment' would point many readers at
    the same root)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embed_dim: int = EMBED_DIM,
        api_bases: Sequence[str] | None = None,
        embed_model: str = "embed",
        providers: Sequence | None = None,
        cache_ttl_s: float = 5.0,
    ):
        """``providers``: ordered EmbedProvider list (ollama → openai →
        ...) resolved first-configured-wins exactly like the reference
        (ai/methods.go:14-22). ``api_bases`` is the one-provider Ollama
        shorthand. With neither, the deterministic in-process noop model
        runs (noop/ai.go:47-64). ``cache_ttl_s``: metadata/centroid
        cache TTL (CACHE_DURATION, config/constants.go:15); 0 disables."""
        from go_vectorsearch_spark.sources.embed_http import (
            EmbedProvider,
            select_embed_provider,
        )

        self.spark = spark
        self.root = root
        self.embed_dim = embed_dim
        self.embed_model = embed_model
        if providers:
            self.provider = select_embed_provider(list(providers))
        elif api_bases:
            self.provider = EmbedProvider(
                api_bases=tuple(str(b) for b in api_bases), model=embed_model
            )
        else:
            self.provider = None
        # legacy attribute (tests/back-compat): bases of the active provider
        self.api_bases = list(self.provider.api_bases) if self.provider else None
        # 5-minute vacuum grace: an Engine serves concurrent snapshot
        # readers (service.py), so old versions must outlive any
        # plausible in-flight scan before the keep-window count drops
        # them. Direct _VersionedTable users (unit tests) default to 0.
        self._cache = _TTLCache(cache_ttl_s) if cache_ttl_s > 0 else None
        self.t = {
            name: _VersionedTable(
                spark,
                root,
                name,
                ddl,
                vacuum_min_age_s=300.0,
                partition_expr=_PARTITION_EXPRS.get(name),
            )
            for name, ddl in _SCHEMAS.items()
        }

    # -- embedding seam (S12) ----------------------------------------------
    def _embed_chunks(self, chunks: DataFrame) -> DataFrame:
        """chunk text -> canonical (codes, lo, hi) via the configured
        provider (HTTP batched mapInPandas, or noop expressions)."""
        from go_vectorsearch_spark.sources.embed_http import embed_chunks

        return embed_chunks(
            chunks,
            text_col="chunk",
            dim=self.embed_dim,
            providers=[self.provider] if self.provider else None,
        )

    def _embed_query(self, qtext: str) -> list[float]:
        """One query vector: :meth:`_embed_queries` of a one-text batch."""
        return self._embed_queries([qtext])[0]

    # -- id allocation ----------------------------------------------------
    def _next_id(self, table: str, id_col: str) -> int:
        row = self.t[table].read().agg(F.max(id_col)).head()
        return (row[0] if row[0] is not None else 0) + 1

    def _get_or_create(self, table: str, id_col: str, filters: dict) -> int:
        df = self.t[table].read()
        cond = None
        for k, v in filters.items():
            c = F.col(k) == F.lit(v)
            cond = c if cond is None else cond & c
        hit = df.filter(cond).select(id_col).head()
        if hit is not None:
            return hit[0]
        new_id = self._next_id(table, id_col)
        new_row = self.spark.createDataFrame(
            [{id_col: new_id, **filters}], _SCHEMAS[table]
        )
        self.t[table].append(new_row)
        return new_id

    # -- upload (server/upload.go:111-323) ---------------------------------
    def upload(
        self,
        owner: str,
        category: str,
        documents: list[dict],
        neardup: str | None = None,
        neardup_threshold: float = 0.5,
    ) -> list[int]:
        """documents: [{name, external_id, document(JSON str)}] → ids.

        ``neardup="skip"`` (requires :meth:`build_neardup_index` to have
        run for the category) drops near-duplicate documents BEFORE the
        embed stage — the whole point of ingest-time dedup is not paying
        to embed a copy. The check-then-insert is NOT atomic across
        engines: two concurrent skip-uploads of the same new text (in
        different processes, or engine-direct callers bypassing the
        Service's per-route write lock) can both pass the check and
        both insert — the same at-least-once trade every LSH ingest
        dedup makes; a later corpus-level dedup pass reconciles. The returned list stays POSITIONAL: a skipped
        document's slot holds the id of the stored document it
        duplicated (best Jaccard, ties to the smallest id), or of the
        earlier in-batch survivor it duplicated — so callers can always
        map input k to a live document id. Surviving documents of a
        category with a near-dup index are appended to it automatically
        (the same hybrid-consistency contract as the text index)."""
        if neardup not in (None, "skip"):
            raise ValueError(f"upload: unknown neardup mode {neardup!r}")
        if not documents:
            # clean no-op: without this, the first upload to a new
            # category would crash on the empty seed head() after
            # owner/category rows were already committed
            return []
        if neardup == "skip":
            # resolve READ-ONLY before any writes: a rejected request
            # (mapped to HTTP 400) must not persist owner/category rows
            # as a side effect of _get_or_create
            cid = self._category_id(owner, category)
            if cid is None or not os.path.exists(
                f"{self._neardup_path(cid)}/VERSION"
            ):
                raise NearDupIndexMissing(
                    f"upload: neardup='skip' but no near-dup index for "
                    f"{owner}/{category}; run build_neardup_index first"
                )
        owner_id = self._get_or_create("owners", "owner_id", {"name": owner})
        category_id = self._get_or_create(
            "categories", "category_id", {"name": category, "owner_id": owner_id}
        )

        # ingest-time near-dup skip: resolve each input to "fresh" or
        # "duplicate of <id / earlier input>" before any embedding work
        dup_of: dict[int, int] = {}  # input ix -> matched stored doc id
        dup_of_ix: dict[int, int] = {}  # input ix -> earlier input ix
        if neardup == "skip":
            import json as _json

            from go_vectorsearch_spark.operators import dedup as DD
            from go_vectorsearch_spark.operators.documents import flatten

            texts = [flatten(_json.loads(d["document"])) for d in documents]
            # vs the stored corpus: bucket-pruned band match + exact verify
            best: dict[int, tuple[float, int]] = {}
            for r in self.neardup_check(
                owner, category, texts, threshold=neardup_threshold
            ).collect():
                cur = best.get(r["q_ix"])
                cand = (-r["jaccard"], r["document_id"])
                if cur is None or cand < cur:
                    best[r["q_ix"]] = cand
            # within the batch itself (the store can't see these yet)
            batch = self.spark.createDataFrame(
                list(enumerate(texts)), "q_ix long, _text string"
            )
            pair_rows = DD.minhash_lsh_pairs(
                batch,
                id_col="q_ix",
                text_col="_text",
                threshold=neardup_threshold,
                # request-sized batch in a long-lived service: a
                # persisted signature frame would leak per upload
                persist_signatures=False,
            ).collect()
            peers: dict[int, list[int]] = {}
            for r in pair_rows:  # id_a < id_b by construction
                peers.setdefault(int(r["id_b"]), []).append(int(r["id_a"]))
            # ascending scan: an input survives unless it matched the
            # store or an EARLIER SURVIVOR (a chain of near-dups keeps
            # exactly its first member, like dedup.exact_dedup)
            for ix in range(len(documents)):
                if ix in best:
                    dup_of[ix] = best[ix][1]
                    continue
                for a in sorted(peers.get(ix, [])):
                    if a not in dup_of and a not in dup_of_ix:
                        dup_of_ix[ix] = a
                        break
            survivors = [
                i for i in range(len(documents))
                if i not in dup_of and i not in dup_of_ix
            ]
            if not survivors:
                # nothing fresh: dup_of_ix targets survivors only, so
                # with zero survivors every slot matched the store
                return [dup_of[ix] for ix in range(len(documents))]
            documents = [documents[i] for i in survivors]
        base_doc = self._next_id("documents", "document_id")

        docs = self.spark.createDataFrame(
            [
                {
                    "doc_id": base_doc + i,
                    "name": d.get("name", ""),
                    "external_id": d.get("external_id", ""),
                    "payload_json": d["document"],
                }
                for i, d in enumerate(documents)
            ],
            "doc_id long, name string, external_id string, payload_json string",
        )
        # Embed → quantized codes immediately (the reference never holds
        # full precision past the decode boundary, ai/aicomms/embed.go:
        # 42-50). "vector" is the dequantize-in-expression working column
        # used for centroid assignment, never stored.
        # persist: the embed stage (an HTTP mapInPandas in live mode) is
        # referenced by up to three actions below (seed head, stride agg,
        # embeddings write) — unpersisted, every chunk would be re-POSTed
        # to the embed endpoint per action, and a non-bit-deterministic
        # endpoint would seed centroids from a different response than
        # the stored codes
        chunks = dequantized_vector(
            self._embed_chunks(prepare_chunks(docs, ctx_num=2048))
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)

        # first upload of a category seeds centroid #1 with the first
        # chunk's embedding (server/upload.go:210-227)
        cents = self.t["centroids"].read().filter(F.col("category_id") == category_id)
        if cents.isEmpty():
            first = chunks.orderBy("doc_id", "chunk_idx").select("vector").head()
            seed_id = self._next_id("centroids", "centroid_id")
            seed = self.spark.createDataFrame(
                [{"centroid_id": seed_id, "category_id": category_id, "vector": first[0]}],
                _SCHEMAS["centroids"],
            )
            self.t["centroids"].append(seed)
            cents = seed

        # nearest-centroid assignment (server/upload.go:239-245, J5/V3)
        assigned = assign_nearest(
            chunks,
            cents.select(F.col("centroid_id"), F.col("vector").alias("centroid_vec")),
            vec_col="vector",
            out_col="centroid_id",
        )

        base_emb = self._next_id("embeddings", "embedding_id")
        new_emb = assign_embedding_ids(assigned, base_emb, base_doc).select(
            "embedding_id",
            F.col("doc_id").alias("document_id"),
            "centroid_id",
            "codes",
            "lo",
            "hi",
        )
        # pure appends: existing data is carried over by manifest
        # reference — an upload writes only its own rows, the
        # INSERT-shaped write path of server/upload.go:288-304.
        # DOCUMENTS COMMIT FIRST: a crash between the two appends then
        # leaves zombie documents with no vectors — hydratable,
        # deletable, merely unsearchable — and the next upload's
        # _next_id sees the advanced documents max. The reverse order
        # left orphan embeddings whose document_ids the NEXT upload
        # re-allocated to unrelated documents: old vectors permanently
        # aliased onto new content, with no repair path (the delete
        # cascade verifies victims against the documents table and
        # could never reach them).
        new_docs = docs.select(
            F.col("doc_id").alias("document_id"),
            "name",
            "external_id",
            "payload_json",
            F.lit(category_id).cast("long").alias("category_id"),
        )
        self.t["documents"].append(new_docs)
        self.t["embeddings"].append(new_emb)
        chunks.unpersist()
        self._invalidate_cache()  # owner/category/centroids may have changed
        ids = [base_doc + i for i in range(len(documents))]
        # a category WITH a text index stays hybrid-consistent without
        # manual maintenance: the new documents' postings append
        # incrementally (the lexical twin of the upload's incremental
        # centroid assignment); categories without one pay nothing
        if os.path.exists(f"{self._text_index_path(category_id)}/VERSION"):
            self.append_text_index(owner, category, ids)
        # same contract for the near-dup band index (regardless of the
        # neardup mode: an indexed category stays checkable after plain
        # uploads too)
        if os.path.exists(f"{self._neardup_path(category_id)}/VERSION"):
            self.append_neardup_index(owner, category, ids)
        if neardup == "skip" and (dup_of or dup_of_ix):
            # positional result: survivors get their fresh ids; skipped
            # slots resolve to the id they duplicated (store id, or the
            # fresh id of the earlier in-batch survivor)
            new_id_of_ix = dict(zip(survivors, ids))
            out = []
            for ix in range(len(survivors) + len(dup_of) + len(dup_of_ix)):
                if ix in dup_of:
                    out.append(dup_of[ix])
                elif ix in dup_of_ix:
                    # dup_of_ix targets survivors only (construction)
                    out.append(new_id_of_ix[dup_of_ix[ix]])
                else:
                    out.append(new_id_of_ix[ix])
            return out
        return ids

    # -- search (server/search.go:115-334) ---------------------------------
    # Every search method gets its vector rows from _vector_rows; the
    # methods differ only in the page they build from those rows.
    def search(
        self,
        owner: str,
        category: str,
        text: str,
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        where=None,
    ) -> DataFrame:
        """Vector search (server/search.go:115-334): the query's top
        ``count + offset`` documents from :meth:`_vector_rows`, sliced
        to the page and hydrated. ``where`` — an optional Column
        predicate over the documents table — pre-filters the probed
        scan, so the page holds ``count`` matching documents whenever
        that many matches exist."""
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None:  # missing owner/category -> empty result
            return self._empty_search_result()  # (server/search.go:156-177)
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        rows = self._vector_rows(scope, [qvec], count + offset, nprobe, where)[0]
        return self._hydrate_page(rows[offset : offset + count], scope)

    def _empty_search_result(self) -> DataFrame:
        return _local_frame(self.spark, [], _SEARCH_RESULT)

    def search_many(
        self,
        owner: str,
        category: str,
        texts: list[str],
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        where=None,
    ) -> DataFrame:
        """Batched search: N query texts answered with ONE embed call
        and one scoring plan per round (engine extension; the reference
        serves one request per HTTP call). Returns (q_ix, document_id,
        name, external_id, payload_json, score) where ``q_ix`` indexes
        into ``texts``. Each query's page is the page :meth:`search`
        returns for that text (asserted in tests): both read their rows
        from :meth:`_vector_rows`, which scores all queries together
        (plans/ivf.ivf_search_batch applied to the managed store)."""
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None or not texts:
            return self._empty_many_result()
        qvecs = self._embed_queries(
            [f"{SEARCH_QUERY_PREFIX}{t}" for t in texts]
        )
        per_query = self._vector_rows(scope, qvecs, count + offset, nprobe, where)
        return self._hydrate_pages_many(
            [rows[offset : offset + count] for rows in per_query], scope
        )

    def _empty_many_result(self) -> DataFrame:
        return _local_frame(self.spark, [], _MANY_RESULT)

    def _allowed_docs(self, scope: int, where) -> DataFrame:
        """The category-scoped allowed-document frame for a ``where``
        predicate — the one definition of the pre-filter every search
        path semi-joins (document_id only; caller-sized, AQE decides
        broadcast)."""
        return (
            self.t["documents"]
            .read()
            .filter(F.col("category_id") == scope)
            .filter(where)
            .select("document_id")
        )

    def _vector_rows(
        self,
        scope: int,
        qvecs: list,
        n: int,
        nprobe: int,
        where=None,
        with_vector: bool = False,
    ) -> list[list]:
        """The search family's one vector path: per query vector, its
        top-``n`` documents as collected (document_id, score[, vector])
        rows in rank order, round(score, 6) desc then document_id asc.

        Each query probes its ``nprobe`` nearest lists, ranked
        driver-side over the TTL-cached centroids (the reference's
        in-process cosine, server/search.go:202-227). Each round is
        scored by one kernel picked by its number of queries:
        :meth:`_vector_topk` for one, :meth:`_vector_best_many` for
        several. ``where`` pre-filters the scored chunks and turns on
        widening (the serving twin of plans/ivf.ivf_search_adaptive):
        while a query holds fewer than ``n`` matches and lists remain,
        its probe count doubles and the next round scores only its
        newly added lists. The fill target is clamped once to
        |allowed|, counted only when a first round falls short, so a
        predicate with fewer than ``n`` matches stops once all are
        found. Rounds merge by per-document max, which is exact:
        top-n(A ∪ B) = top-n(top-n(A) ∪ top-n(B)) in the rank order.
        The merged rows are ranked by the kernels' ``_key``, the score
        rounded in Spark, so rounding ties resolve as on every page.

        The one caveat, shared by every search method: the score of a
        match found in the last round is probe-limited; a better chunk
        of that document may sit in a list never probed. Without
        ``where`` the reference semantics (fixed ``nprobe``) stand.
        ``with_vector`` adds each document's best-chunk vector (for
        one-query callers: the MMR pool)."""
        from go_vectorsearch_spark.plans.ivf import widen_probe_count

        cents = self._category_centroids(scope)
        allowed = None if where is None else self._allowed_docs(scope, where)
        probes = {
            ix: ids
            for ix, qv in enumerate(qvecs)
            if (ids := _rank_probe_ids(cents, qv, nprobe))
        }
        found: list[dict] = [{} for _ in qvecs]  # document_id -> best row
        ranked: dict[int, list[int]] = {}  # full probe order of widened queries
        probed, target = min(nprobe, len(cents)), None
        while probes:
            if len(probes) == 1:
                [(ix, ids)] = probes.items()
                rows = [(ix, r) for r in self._vector_topk(
                    scope, qvecs[ix], n, nprobe, allowed=allowed,
                    probe_ids=ids, with_vector=with_vector,
                ).collect()]
            else:
                rows = [(r["q_ix"], r) for r in self._vector_best_many(
                    scope, qvecs, probes, n, allowed).collect()]
            for ix, r in rows:
                best = found[ix].get(r["document_id"])
                if best is None or r["score"] > best["score"]:
                    found[ix][r["document_id"]] = r
            if allowed is None or probed >= len(cents):
                break
            short = [ix for ix in probes if len(found[ix]) < n]
            if short and target is None:
                target = min(n, allowed.count())
            short = [ix for ix in short if len(found[ix]) < target]
            nxt = widen_probe_count(probed, len(cents))
            for ix in short:
                if ix not in ranked:
                    ranked[ix] = _rank_probe_ids(cents, qvecs[ix], len(cents))
            probes = {ix: ranked[ix][probed:nxt] for ix in short}
            probed = nxt
        return [
            sorted(f.values(), key=lambda r: (-r["_key"], r["document_id"]))[:n]
            for f in found
        ]

    def _vector_topk(
        self,
        scope: int,
        qvec: list,
        n: int,
        nprobe: int,
        allowed: DataFrame | None = None,
        probe_ids: list[int] | None = None,
        with_vector: bool = False,
    ) -> DataFrame | None:
        """One-query scoring kernel: the document-level top-``n`` of a
        category as a TakeOrdered plan with the query as a literal, or
        None when no centroid probes (empty category). Rows carry the
        rank key ``_key`` = round(score, 6). ``probe_ids`` overrides the
        driver-side ranking of the ``nprobe`` nearest lists with an
        explicit list set (a widening round's new lists); ``allowed``
        pre-filters the scored documents."""
        if probe_ids is None:
            probe_ids = _rank_probe_ids(
                self._category_centroids(scope), qvec, nprobe
            )
        if not probe_ids:
            return None
        topk = brute_force_topk_with_vector if with_vector else brute_force_topk
        return topk(
            self._probed_chunks(probe_ids, allowed), qvec, n,
            id_col="embedding_id", vec_col="vector", doc_col="document_id",
        ).withColumn("_key", F.round("score", 6))

    def _probed_chunks(self, lists: list[int], allowed: DataFrame | None) -> DataFrame:
        """The chunks of the given inverted lists, restricted to
        ``allowed`` documents, with their vectors dequantized. The read
        is pruned at the MANIFEST level, so unprobed lists are never
        even listed, and the codes dequantize inside the scoring
        expression (no float table is ever materialized). The allowed
        set is caller-sized: no broadcast hint, AQE decides."""
        raw = (
            self.t["embeddings"]
            .read(partition_values=lists)
            .filter(F.col("centroid_id").isin(lists))  # belt-and-braces
        )
        if allowed is not None:
            raw = raw.join(allowed.select("document_id"), "document_id", "left_semi")
        return dequantized_vector(raw)

    def _vector_best_many(
        self,
        scope: int,
        qvecs: list,
        probes: dict[int, list[int]],
        n: int,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Several-query scoring kernel: (q_ix, document_id, score, _key)
        rows, the top-``n`` documents of each query ``q_ix`` over its
        own lists ``probes[q_ix]``, with the rank key ``_key`` =
        round(score, 6). The union of the probed lists is read once
        (manifest-pruned) and the (q_ix, query vector, centroid) probe
        frame broadcasts into it, so a chunk is scored once per query
        probing its list: candidate work is Σ_q |lists of q|, never
        N × corpus. One shuffle does the per-query dedup and cut."""
        from pyspark.sql import Window

        from go_vectorsearch_spark.functions.vector import cosine_similarity

        probe = _local_frame(
            self.spark,
            [
                (ix, [float(x) for x in qvecs[ix]], int(cid))
                for ix, ids in probes.items()
                for cid in ids
            ],
            "q_ix long, _qvec array<double>, centroid_id long",
        )
        all_probed = sorted({cid for ids in probes.values() for cid in ids})
        scored = (
            self._probed_chunks(all_probed, allowed)
            .join(F.broadcast(probe), "centroid_id")
            .withColumn("_s", cosine_similarity(F.col("vector"), F.col("_qvec")))
        )
        order = Window.partitionBy("q_ix").orderBy(
            F.desc("_key"), F.asc("document_id")
        )
        return (
            scored.groupBy("q_ix", "document_id")
            .agg(F.max("_s").alias("score"))
            .withColumn("_key", F.round("score", 6))
            .withColumn("_rn", F.row_number().over(order))
            .filter(F.col("_rn") <= n)
            .drop("_rn")
        )

    def search_many_hybrid(
        self,
        owner: str,
        category: str,
        texts: list[str],
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        fuse_depth: int = 60,
        rrf_c: int = 60,
    ) -> DataFrame:
        """Batched hybrid search: N query texts fused (vector + BM25 by
        RRF) in ONE embed call and one plan per leg — the batch form of
        :meth:`search_hybrid`, per-query pages identical to it (tested).

        The vector leg is each query's top-``fuse_depth`` rows from
        :meth:`_vector_rows`; the lexical leg scores ALL queries
        against ONE postings scan pruned to the union of every query's
        term buckets, with a broadcast (q_ix, term) frame fanning each
        posting to the queries that contain its term — per-term idf/df
        and the corpus scalars are identical to the single-query
        scorer, so scores match bm25_search_stored exactly. Fusion
        ranks per (leg, q_ix) with partitioned windows over the two
        bounded top-fuse_depth frames and sums 1/(c + rank)."""
        import re as _re

        from pyspark.sql import Window

        from go_vectorsearch_spark.operators.fulltext import (
            TOKEN_SPLIT_RE,
            read_postings,
        )

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None or not texts:
            return self._empty_many_result()
        path = self._text_index_path(scope)
        if not os.path.exists(f"{path}/VERSION"):
            raise ValueError(
                f"search_many_hybrid: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        cut = Window.partitionBy("q_ix").orderBy(
            F.desc(F.round("score", 6)), F.asc("document_id")
        )

        # -- lexical leg: one pruned scan for every query, scored by
        # the SHARED batched BM25 core (fulltext.bm25_score_many reuses
        # bm25_search's idf/contribution definitions, so a tuning change
        # to the canonical scorer reaches this path by construction) --
        from go_vectorsearch_spark.operators.fulltext import (
            bm25_score_many,
            bucket_pruned,
        )

        index, n_buckets = read_postings(self.spark, path)
        q_terms = [
            sorted({t for t in _re.split(TOKEN_SPLIT_RE, t.lower()) if t})
            for t in texts
        ]
        all_terms = sorted({t for ts in q_terms for t in ts})
        legs = []
        scored = (
            bm25_score_many(
                self.spark, bucket_pruned(index, n_buckets, all_terms), q_terms
            )
            if all_terms
            else None
        )
        if scored is not None:
            lex = (
                scored.withColumnRenamed("doc_id", "document_id")
                .withColumn("_rn", F.row_number().over(cut))
                .filter(F.col("_rn") <= fuse_depth)
                .select("q_ix", "document_id", "score")
            )
            legs.append(lex)

        # -- vector leg ---------------------------------------------------
        qvecs = self._embed_queries(
            [f"{SEARCH_QUERY_PREFIX}{t}" for t in texts]
        )
        vec = [
            (ix, r["document_id"], r["score"])
            for ix, rows in enumerate(self._vector_rows(scope, qvecs, fuse_depth, nprobe))
            for r in rows
        ]
        if vec:
            legs.append(
                _local_frame(self.spark, vec, "q_ix long, document_id long, score double")
            )
        if not legs:
            return self._empty_many_result()

        # -- fusion: rank per (leg, q_ix), sum 1/(c + rank) ---------------
        tagged = []
        for leg_ix, leg in enumerate(legs):
            wl = Window.partitionBy("q_ix").orderBy(
                F.desc(F.round("score", 6)), F.asc("document_id")
            )
            tagged.append(
                leg.withColumn("_rank", F.row_number().over(wl)).select(
                    "q_ix",
                    "document_id",
                    (1.0 / (F.lit(rrf_c) + F.col("_rank"))).alias("_rrf"),
                )
            )
        allr = tagged[0]
        for t in tagged[1:]:
            allr = allr.unionByName(t)
        fused_rows = (
            allr.groupBy("q_ix", "document_id")
            .agg(F.sum("_rrf").alias("score"))
            .withColumn("_rn", F.row_number().over(cut))
            .filter(F.col("_rn") <= count + offset)
            .select("q_ix", "document_id", "score", "_rn")
            .collect()
        )
        pages: list[list] = [[] for _ in texts]
        for r in sorted(fused_rows, key=lambda r: r["_rn"]):
            if r["_rn"] > offset:
                pages[r["q_ix"]].append(r)
        return self._hydrate_pages_many(pages, scope)

    def _embed_once_failover(self, qtexts: list[str]):
        """embed_texts_once across the provider's api_bases IN ORDER —
        the serving read path gets the same endpoint failover the
        upload path's rotation gives (sources/embed_http): without it a
        dead first endpoint failed every search while uploads kept
        working. The first base that answers wins; only when every base
        errors does the request fail (with the last error)."""
        from go_vectorsearch_spark.sources.embed_http import embed_texts_once

        last: Exception | None = None
        for base in self.provider.api_bases:
            try:
                return embed_texts_once(
                    base,
                    qtexts,
                    self.provider.model,
                    num_ctx=self.provider.num_ctx,
                    token=self.provider.token,
                    path=self.provider.embed_path,
                )
            except (OSError, RuntimeError) as e:  # dead endpoint / bad gateway
                last = e
        raise last

    def _embed_queries(self, qtexts: list[str]) -> list[list[float]]:
        """All query vectors in ONE provider round-trip, driver-side (the
        reference embeds the query with the same provider call as
        uploads, server/search.go:124-147). HTTP mode shares the upload
        path's request shape and options, then takes each vector
        through the same u8 codec the stored vectors passed
        (quantize-at-decode, ai/aicomms/embed.go:42-50). Noop mode
        evaluates the expression over a local frame of the texts."""
        if not self.provider:
            rows = (
                _local_frame(self.spark, list(enumerate(qtexts)), "i long, t string")
                .select("i", noop_embed(F.col("t"), dim=self.embed_dim).alias("v"))
                .collect()
            )
            return [list(r["v"]) for r in sorted(rows, key=lambda r: r["i"])]
        import numpy as np

        codes, lo, hi = self._embed_once_failover(qtexts)
        span = (hi.astype(np.float32) - lo.astype(np.float32)).astype(np.float32)
        deq = (
            lo.astype(np.float32)[:, None]
            + codes.astype(np.float32) / np.float32(255.0) * span[:, None]
        )
        return [row.astype(float).tolist() for row in deq]

    def search_diverse(
        self,
        owner: str,
        category: str,
        text: str,
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        mmr_lambda: float = 0.5,
        pool: int = 50,
        where=None,
    ) -> DataFrame:
        """Diversified vector search: Maximal Marginal Relevance re-rank
        (Carbonell & Goldstein 1998) of a top-``pool`` candidate set —
        the page trades pure relevance for coverage, so a corpus with
        many near-identical top hits doesn't fill the page with copies.

        ``mmr_lambda`` in [0, 1]: 1 = pure relevance (reproduces
        :meth:`search`'s ranking exactly, pool permitting), 0 = pure
        diversity. The reported ``score`` stays the ORIGINAL cosine
        relevance (the page's order, not its scores, is what MMR
        changes); the page order is the MMR selection order.

        The pool is the query's top-``pool`` rows from
        :meth:`_vector_rows`, as for :meth:`search` (``where`` filters
        and widens it the same way), with each document's best-chunk
        vector; the greedy MMR loop runs driver-side over that
        page-scale pool (see operators/search.mmr_select for why that
        is the right side of the boundary).
        """
        if not 0.0 <= mmr_lambda <= 1.0:
            raise ValueError(f"search_diverse: mmr_lambda {mmr_lambda} not in [0, 1]")
        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        pool = max(int(pool), count + offset)
        scope = self._category_id(owner, category)
        if scope is None:
            return self._empty_search_result()
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        rows = self._vector_rows(
            scope, [qvec], pool, nprobe, where, with_vector=True
        )[0]
        # rel = round(score, 6): the engine's ranking precision
        # everywhere (brute_force_topk, pagination, fusion), so
        # lambda=1 reproduces search()'s order INCLUDING its rounded-tie
        # id ascending resolution (the pool arrives in that order and
        # argmax keeps the first max). Reported scores stay raw.
        picks = mmr_select(
            [round(r["score"], 6) for r in rows],
            [r["vector"] for r in rows],
            count + offset,
            mmr_lambda,
        )
        page = [rows[i] for i in picks[offset : offset + count]]
        return self._hydrate_page(page, scope)

    def _hydrate_page(self, page_rows: list, scope: int) -> DataFrame:
        """Hydrate one collected (document_id, score) page, given in rank
        order: a :meth:`_vector_rows` slice, an ``rrf_fuse`` result or
        the MMR pick order. The page keeps that order."""
        return self._hydrate([page_rows], scope, batched=False)

    def _hydrate_pages_many(self, pages: list[list], scope: int) -> DataFrame:
        """Hydrate one page per query (``pages[q_ix]``, each in rank
        order) with one documents read for all of them; rows carry
        ``q_ix`` first."""
        return self._hydrate(pages, scope, batched=True)

    def _hydrate(self, pages: list[list], scope: int, batched: bool) -> DataFrame:
        """Search step 7 as the reference does it (server/search.go:
        285-308): read the pages' documents by id, then merge them into
        the ranked pages on the driver.

        One Spark job: a documents read pruned at the manifest level to
        the page ids' hash buckets, filtered to those ids in ``scope``,
        narrowed to the payload columns and collected. A page holds at
        most 20 documents per query, so the collect is request-sized and
        hydration never scans the corpus-sized documents table. The
        merge keeps each page's order and drops an id that is no longer
        in the category, as an inner join would. The result is a local
        frame, so the caller's ``collect()`` runs no job."""
        ddl = _MANY_RESULT if batched else _SEARCH_RESULT
        ids = sorted({r["document_id"] for page in pages for r in page})
        if not ids:
            return _local_frame(self.spark, [], ddl)
        docs = {
            d["document_id"]: (d["name"], d["external_id"], d["payload_json"])
            for d in self.t["documents"]
            .read(partition_values=sorted({i % N_DOC_BUCKETS for i in ids}))
            .filter(F.col("document_id").isin(ids) & (F.col("category_id") == scope))
            .select("document_id", "name", "external_id", "payload_json")
            .collect()
        }
        out = [
            ((ix,) if batched else ())
            + (r["document_id"], *docs[r["document_id"]], float(r["score"]))
            for ix, page in enumerate(pages)
            for r in page
            if r["document_id"] in docs
        ]
        return _local_frame(self.spark, out, ddl)

    # -- hybrid retrieval (engine extension beyond the reference) ----------
    def _text_index_path(self, cid: int) -> str:
        return f"{self.root}/text_index/{cid}"

    def build_text_index(
        self, owner: str, category: str, n_buckets: int = 64
    ) -> int:
        """Build (or rebuild) the category's BM25 postings store over
        the documents' flattened payload text — the lexical twin of
        refresh_index: explicit, amortized, background-shaped. Returns
        the number of indexed documents.

        The indexed text is the SAME flatten(payload_json) the chunker
        embeds (operators/documents.flatten, upload.go:174-186), so
        lexical and vector retrieval see one view of the document."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf
        from go_vectorsearch_spark.operators.fulltext import (
            build_bm25_index,
            write_postings,
        )

        from go_vectorsearch_spark.operators.fulltext import (
            ConcurrentWriteError,
            _store_version,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"build_text_index: unknown {owner}/{category}")
        path = self._text_index_path(cid)
        # the corpus snapshot is read outside the store lock, so the
        # commit is version-guarded: a streaming epoch landing between
        # snapshot and commit would otherwise be erased while its
        # applied-key survived (silently-skipped replay = permanent
        # loss). On conflict, re-snapshot — the interleaved epoch's
        # documents are then inside the corpus — and retry.
        for _attempt in range(5):
            base_v = _store_version(path)
            docs = (
                self.t["documents"]
                .read()
                .filter(F.col("category_id") == cid)
                .select(
                    "document_id",
                    flatten_json_udf(F.col("payload_json")).alias("_text"),
                )
            )
            index = build_bm25_index(docs, id_col="document_id", text_col="_text")
            try:
                write_postings(
                    index, path, n_buckets=n_buckets, base_version=base_v
                )
                break
            except ConcurrentWriteError:
                continue
        else:
            raise RuntimeError(
                f"build_text_index: could not commit {owner}/{category} "
                "after 5 attempts (concurrent appends kept landing)"
            )
        # retention mirrors the versioned tables: keep the previous
        # version's batches for in-flight lock-free readers, reclaim
        # anything older — with the SAME 5-minute serving grace the
        # tables use (vacuum_min_age_s), so even several back-to-back
        # rebuilds never delete files under a reader that resolved its
        # manifest and is still mid-scan
        from go_vectorsearch_spark.operators.fulltext import vacuum_postings

        vacuum_postings(path, keep_versions=2, min_age_s=300.0)
        return index.n_docs

    def append_text_index(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Incrementally index newly uploaded documents: their postings
        APPEND into the existing bucketed store (untouched bucket files
        carry as-is) and the corpus scalars merge exactly, so the grown
        store scores bit-identically to a full rebuild — the upload
        path's partition-scoped-append discipline applied to the text
        index. The documents read prunes to the ids' hash buckets at
        the manifest level, like search hydration. :meth:`upload` calls
        this automatically for categories whose index exists — callers
        only need it when indexing pre-existing data."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf
        from go_vectorsearch_spark.operators.fulltext import (
            append_postings,
            build_bm25_index,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"append_text_index: unknown {owner}/{category}")
        path = self._text_index_path(cid)
        if not os.path.exists(f"{path}/VERSION"):
            raise ValueError(
                f"append_text_index: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        if not document_ids:
            return 0
        docs = (
            self.t["documents"]
            .read(
                partition_values=sorted(
                    {i % N_DOC_BUCKETS for i in document_ids}
                )
            )
            .filter(
                F.col("document_id").isin(list(document_ids))
                & (F.col("category_id") == cid)
            )
            .select(
                "document_id",
                flatten_json_udf(F.col("payload_json")).alias("_text"),
            )
        )
        delta = build_bm25_index(docs, id_col="document_id", text_col="_text")
        append_postings(delta, path)
        return delta.n_docs

    # -- incremental ingest near-dup index (engine extension) ---------------
    #
    # At 100 TB the dominant dedup cost is NOT the first full-corpus
    # MinHash pass — it is re-running it on every ingest. The persisted
    # band index makes ingest-time near-dup INCREMENTAL: adding 1 TB to
    # a 100 TB corpus compares the new documents only against the LSH
    # buckets they collide with (a manifest-pruned read of the band
    # store), never against the corpus. Same banding constants as
    # operators/dedup.minhash_lsh_pairs, so stored and in-flight keys
    # are interchangeable by construction.
    #
    # Layout mirrors the text index: one versioned band table per
    # category under <root>/neardup_index/<cid>, partitioned by a hash
    # bucket of the band key so a check's read prunes to the incoming
    # batch's buckets. Rows are (document_id, band, key) — 4 short rows
    # per document; signatures and shingles are NOT stored (verification
    # re-derives them from the live documents of the candidate set only,
    # which also makes rows of deleted documents self-healing: the
    # verify join against the documents table simply drops them).

    def _neardup_table(self, cid: int) -> _VersionedTable:
        return _VersionedTable(
            self.spark,
            f"{self.root}/neardup_index",
            str(cid),
            "document_id long, band int, key string",
            vacuum_min_age_s=300.0,
            # conv(), not CAST('0x..'): ANSI mode rejects the 0x string
            partition_expr=(
                "pmod(CAST(conv(substr(key, 1, 8), 16, 10) AS BIGINT), "
                f"{N_BAND_BUCKETS})"
            ),
        )

    def _neardup_path(self, cid: int) -> str:
        return f"{self.root}/neardup_index/{cid}"

    def _doc_band_rows(self, docs: DataFrame, id_col: str) -> DataFrame:
        """(id_col, band, key) LSH band rows of a (id, _text) frame."""
        from go_vectorsearch_spark.operators import dedup as DD

        return self._doc_band_rows_from_shingled(
            DD.shingled_docs(docs, id_col=id_col, text_col="_text"), id_col
        )

    def _category_doc_texts(
        self,
        cid: int,
        document_ids: list[int] | DataFrame | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """(document_id, _text) of a category via the SAME
        flatten(payload_json) every other text consumer sees. An id LIST
        prunes the read to the ids' hash buckets at the manifest level
        (the point-lookup shape, bounded driver literals); an id FRAME
        semi-joins instead — the bulk shape, no O(ids) driver
        materialization — optionally pruned by a precomputed ``buckets``
        list (bounded by N_DOC_BUCKETS regardless of id count)."""
        from go_vectorsearch_spark.operators.documents import flatten_json_udf

        if document_ids is None:
            base = self.t["documents"].read()
        elif isinstance(document_ids, DataFrame):
            base = self.t["documents"].read(partition_values=buckets).join(
                document_ids.select("document_id"), "document_id", "left_semi"
            )
        else:
            base = self.t["documents"].read(
                partition_values=sorted(
                    {i % N_DOC_BUCKETS for i in document_ids}
                )
            ).filter(F.col("document_id").isin(list(document_ids)))
        return base.filter(F.col("category_id") == cid).select(
            "document_id", flatten_json_udf(F.col("payload_json")).alias("_text")
        )

    def substr_dedup_report(
        self, owner: str, category: str, L: int = 8
    ) -> DataFrame:
        """Exact-substring duplication report over a stored category:
        per-document (document_id, n_spans, dup_tokens, n_dup_windows)
        for every document containing a duplicated >= L-token passage
        (operators/substr.exact_substr_stats over the same
        flatten(payload_json) every other text consumer sees)."""
        from go_vectorsearch_spark.operators import substr as SUB

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"substr_dedup_report: unknown {owner}/{category}")
        # the duplicate-set plan references the window frame TWICE (hash
        # aggregate + join-back) — unshared, the flatten pandas UDF +
        # tokenize + md5 would run twice over the category. Persisted
        # here; a bulk-analysis frame, reclaimed by the ContextCleaner
        # when the returned report is dropped.
        windows = SUB.window_hashes(
            self._category_doc_texts(cid),
            L=L,
            id_col="document_id",
            text_col="_text",
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        return SUB.exact_substr_stats(
            self._category_doc_texts(cid),
            L=L,
            id_col="document_id",
            text_col="_text",
            windows=windows,
        )

    def substr_dedup_cut(
        self,
        owner: str,
        category: str,
        L: int = 8,
        iterate: int = 1,
        re_embed: bool = False,
    ) -> int:
        """Apply exact-substring dedup CUTS to a stored category — the
        write-path complement of :meth:`substr_dedup_report`, shaped
        like delete/compact: only documents that actually change are
        rewritten, through the documents table's partition-scoped
        upsert; untouched documents (and untouched partitions) carry
        by reference, byte-for-byte.

        ``iterate`` > 1 re-checks cut-created token adjacencies to a
        fixpoint (operators/substr.exact_substr_cut). A cut document's
        payload becomes the JSON string literal of its cleaned flattened
        text, format-normalized before storage — token-level surgery
        cannot preserve arbitrary JSON structure, and the round-trip is
        exact: flatten(new payload) IS the stored text every text
        consumer sees. Each fixpoint pass runs over STORAGE-NORMALIZED
        text (normalize → re-window → cut, via the cut's ``normalize``
        hook): a cut that removes a document's final period-bearing
        token re-normalizes the new last token INSIDE the loop, so the
        window it creates is seen and cut before convergence — a
        converged fixpoint (iterate high enough that a pass changes
        nothing) leaves zero flaggable windows for
        :meth:`substr_dedup_report`. At iterate=1 the Lee et al.
        single-pass gap remains, as documented there.

        Derived-store consistency, same contract as delete_documents:
        the text index tombstones the old postings (exact dls from the
        pre-cut text) and appends the re-tokenized documents; the
        near-dup band store rewrites the changed documents' band rows
        under its cross-process lock. By default EMBEDDINGS keep
        serving the pre-cut content (re-embedding is a model call);
        ``re_embed=True`` swaps the changed documents' embedding rows
        for fresh ones derived from the cut text in one atomic commit
        (see :meth:`_rewrite_category_texts`). Returns the number of
        rewritten documents."""
        from go_vectorsearch_spark.operators import substr as SUB

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"substr_dedup_cut: unknown {owner}/{category}")
        # ONE flatten pass per cut call: texts is referenced by the
        # window hashing, the token-filter rebuild AND the change
        # detection — unpersisted, the flatten pandas UDF would scan
        # the category three times (the registry's shared-frame
        # discipline applied to the Engine). The window frame persists
        # too: the duplicate-flags aggregate + join-back both read it
        # (the substr_dedup_report pattern).
        texts = self._category_doc_texts(cid).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
        windows = SUB.window_hashes(
            texts, L=L, id_col="document_id", text_col="_text"
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        from go_vectorsearch_spark.operators.documents import (
            _format_rejoined_string,
            format_rejoined_text,
        )

        try:
            cut = SUB.exact_substr_cut(
                texts,
                L=L,
                id_col="document_id",
                text_col="_text",
                iterate=iterate,
                windows=windows,
                normalize=format_rejoined_text,
                # the pinned scalar twin — enables the fixpoint's
                # adaptive driver-local path for driver-sized
                # categories (the k-means build precedent)
                normalize_py=_format_rejoined_string,
            )
            return self._rewrite_category_texts(
                owner, category, cid, cut, re_embed=re_embed, texts=texts
            )
        finally:
            windows.unpersist()
            texts.unpersist()

    def _rewrite_category_texts(
        self,
        owner: str,
        category: str,
        cid: int,
        cut: DataFrame,
        texts: DataFrame,
        re_embed: bool = False,
    ) -> int:
        """Apply a cleaned-text frame (document_id, text) to a stored
        category — the shared write machinery of :meth:`substr_dedup_cut`
        and :meth:`decontaminate_cut`: detect changed documents against
        the current flattened texts, rewrite ONLY them through the
        partition-scoped upsert (payload = JSON string literal of the
        cleaned text), and keep the text index and band store consistent.

        ``re_embed=True`` additionally re-runs the upload path's
        chunk → embed → quantize → assign stages for the changed
        documents and swaps their embedding rows in ONE atomic
        replace_partitions commit (survivors of the touched centroid
        partitions + the fresh rows) — vector search then serves the cut
        content instead of the pre-cut embeddings. Costs one embed call
        per changed chunk; assignment reuses the category's existing
        centroids (run refresh_index after bulk cuts if drift matters).

        Scale shape: the CHANGED set stays a DataFrame end-to-end. The
        only driver-side materializations are bounded regardless of how
        many documents a cut touches — the distinct bucket keys
        (≤ N_DOC_BUCKETS), the touched centroid partitions, and one
        min-id scalar. At or below :data:`BULK_REWRITE_CAP` changed
        documents the derived stores take the point-delete route
        (manifest tombstones + pruned isin literals — the right shape
        for a targeted cut); above it the text index REBUILDS over the
        cut snapshot (a whole-corpus cut changes a constant fraction of
        documents, so the rebuild is proportional work and scores
        bit-identically to tombstone + compact + append) and the band
        store rewrite anti-joins the changed frame. Cleaned text is
        :func:`~go_vectorsearch_spark.operators.documents.format_text_udf`
        normalized before storage, so flatten(new payload) round-trips
        to EXACTLY the stored text. Both cut callers also normalize
        INSIDE the cut itself (the ``normalize=format_rejoined_text``
        hook), so the frame arriving here already carries storage-form
        text and the UDF below is an idempotent final truth — the r9
        pre-normalization fixpoint caveat is closed at the source.
        Returns the number of rewritten documents."""
        from go_vectorsearch_spark.operators.documents import (
            format_text_udf,
            json_string_udf,
        )
        from go_vectorsearch_spark.operators.fulltext import tokenize

        # ``texts`` — the caller's persisted pre-cut flatten frame
        # (REQUIRED: the cut plan already references it, so change
        # detection rides the same cached pass; an optional fallback
        # would let a future caller silently lose the one-flatten-pass
        # guarantee)
        changed = (
            cut.join(texts, "document_id")
            .filter(F.col("text") != F.col("_text"))
            # _dl: the PRE-cut token count — the text-index tombstone
            # needs it to shrink the corpus stats exactly (the
            # delete_documents pattern). Computed on BOTH paths even
            # though only the point path reads it: which path runs is
            # known only after the count below, and deriving it later
            # would need the pre-upsert snapshot this frame is the last
            # holder of — one split over text already in flight, and a
            # single cached int per row
            .select(
                "document_id",
                format_text_udf(F.col("text")).alias("text"),
                F.size(tokenize(F.col("_text"))).alias("_dl"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        try:
            n_changed = int(changed.count())
            # the count above fully materialized `changed`, the only
            # consumer of the cut plan — release the fixpoint loop's
            # persisted frame (iterate>1 returns `cur` persisted; unpersist
            # on an uncached frame is a no-op)
            cut.unpersist()
            if n_changed == 0:
                return 0
            ids = changed.select("document_id")
            # bounded by N_DOC_BUCKETS no matter how many docs changed
            buckets = sorted(
                int(r[0])
                for r in ids.select(
                    F.pmod(F.col("document_id"), F.lit(N_DOC_BUCKETS)).alias("b")
                )
                .distinct()
                .collect()
            )
            small = n_changed <= BULK_REWRITE_CAP
            changed_ids = None
            dl_by_doc = None
            if small:
                meta = changed.select("document_id", "_dl").collect()
                changed_ids = sorted(r["document_id"] for r in meta)
                dl_by_doc = {r["document_id"]: int(r["_dl"]) for r in meta}
            upd = (
                self.t["documents"]
                .read(partition_values=buckets)
                .filter(F.col("category_id") == cid)
                .join(changed.select("document_id", "text"), "document_id")
                .select(
                    "document_id",
                    "name",
                    "external_id",
                    json_string_udf(F.col("text")).alias("payload_json"),
                    "category_id",
                )
            )
            self.t["documents"].upsert(upd, "document_id")
            if re_embed:
                self._re_embed_documents(
                    cid, ids, buckets, document_ids=changed_ids
                )
            # text index: below the cap, tombstone the pre-cut postings,
            # COMPACT (a tombstoned id stays hidden until compaction
            # clears the list — append alone would leave the
            # re-tokenized documents invisible), then append the changed
            # documents re-read from the NEW snapshot. Above the cap,
            # rebuild over the cut snapshot — proportional work for a
            # whole-corpus cut, id-list-free, and bit-identical scoring
            # either way.
            tpath = self._text_index_path(cid)
            if os.path.exists(f"{tpath}/VERSION"):
                from go_vectorsearch_spark.operators.fulltext import (
                    _store_manifest,
                    _store_version,
                    compact_postings,
                    delete_postings,
                )

                if small:
                    delete_postings(
                        self.spark, tpath, changed_ids, dl_by_doc=dl_by_doc
                    )
                    compact_postings(self.spark, tpath)
                    self.append_text_index(owner, category, changed_ids)
                else:
                    n_buckets = int(
                        _store_manifest(tpath, _store_version(tpath))[
                            "n_buckets"
                        ]
                    )
                    self.build_text_index(owner, category, n_buckets=n_buckets)
            # near-dup band store: the changed documents' band rows
            # derive from the text — rewrite exactly theirs under the
            # store's cross-process lock (the compact_neardup_index
            # discipline); the changed set joins as a frame, never as
            # an id literal
            if os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
                t = self._neardup_table(cid)
                with t._write_lock():
                    kept = t.read().join(ids, "document_id", "left_anti")
                    # buckets only with the frame shape — the id-list
                    # branch derives its own pruning set from the ids
                    fresh = self._doc_band_rows(
                        self._category_doc_texts(cid, changed_ids)
                        if small
                        else self._category_doc_texts(cid, ids, buckets=buckets),
                        "document_id",
                    )
                    t.write(kept.unionByName(fresh))
            self._invalidate_cache()
            return n_changed
        finally:
            changed.unpersist()

    def _re_embed_documents(
        self,
        cid: int,
        ids: DataFrame,
        buckets: list[int],
        document_ids: list[int] | None = None,
    ) -> None:
        """Swap the embedding rows of the ``ids`` frame's documents for
        fresh ones derived from their CURRENT payloads: the upload
        path's chunk → embed → quantize → assign stages over the new
        snapshot, committed with one atomic
        :meth:`_VersionedTable.replace_partitions` (touched centroid
        partitions lose the stale rows and gain the fresh assignments in
        the same version — no reader ever sees a document
        half-vectored).

        ``ids`` — a (document_id) frame, joined semi/anti into every
        scan; ``document_ids`` — the same set as a bounded list when
        the caller is below :data:`BULK_REWRITE_CAP` (pruned isin
        literals, the point shape). The only driver materializations
        are the touched centroid partitions (bounded by the category's
        centroid count) and one min-id scalar."""
        id_filter = (
            F.col("document_id").isin(list(document_ids))
            if document_ids is not None
            else None
        )
        docs = self.t["documents"].read(partition_values=buckets)
        if id_filter is not None:
            docs = docs.filter(id_filter)
        else:
            docs = docs.join(ids, "document_id", "left_semi")
        docs = docs.filter(F.col("category_id") == cid).select(
            F.col("document_id").alias("doc_id"),
            "name",
            "external_id",
            "payload_json",
        )
        chunks = dequantized_vector(
            self._embed_chunks(prepare_chunks(docs, ctx_num=2048))
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        try:
            cents = (
                self.t["centroids"].read().filter(F.col("category_id") == cid)
            )
            assigned = assign_nearest(
                chunks,
                cents.select(
                    F.col("centroid_id"), F.col("vector").alias("centroid_vec")
                ),
                vec_col="vector",
                out_col="centroid_id",
            )
            base_emb = self._next_id("embeddings", "embedding_id")
            # one scalar aggregate, not min() over a driver list
            base_doc = (
                min(document_ids)
                if document_ids is not None
                else int(ids.agg(F.min("document_id")).head()[0])
            )
            new_emb = assign_embedding_ids(assigned, base_emb, base_doc).select(
                "embedding_id",
                F.col("doc_id").alias("document_id"),
                "centroid_id",
                "codes",
                "lo",
                "hi",
            )
            emb_t = self.t["embeddings"]

            def _stale(df: DataFrame) -> DataFrame:
                if id_filter is not None:
                    return df.filter(id_filter)
                return df.join(ids, "document_id", "left_semi")

            def _live(df: DataFrame) -> DataFrame:
                if id_filter is not None:
                    return df.filter(~id_filter)
                return df.join(ids, "document_id", "left_anti")

            # bounded by the category's centroid count, not by |ids|
            touched = [
                r[0]
                for r in _stale(emb_t.read())
                .select("centroid_id")
                .distinct()
                .collect()
            ]
            if touched:
                survivors = _live(emb_t.read(partition_values=touched))
                emb_t.replace_partitions(
                    survivors.unionByName(new_emb), touched
                )
            else:
                emb_t.append(new_emb)
        finally:
            chunks.unpersist()

    def decontaminate_report(
        self, owner: str, category: str, benchmark_texts: list[str], L: int = 8
    ) -> DataFrame:
        """Benchmark-contamination report over a stored category: the
        exact verbatim >= L-token passages each stored document shares
        with any of ``benchmark_texts`` — (document_id, s_pos, e_pos,
        n_windows), token positions into the flattened text
        (operators/substr.contaminated_spans; the benchmark side
        broadcasts, the stored corpus never shuffles on window hash)."""
        from go_vectorsearch_spark.operators import substr as SUB
        from go_vectorsearch_spark.operators.documents import flatten

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"decontaminate_report: unknown {owner}/{category}")
        if not benchmark_texts:
            return self.spark.createDataFrame(
                [], "document_id long, s_pos int, e_pos int, n_windows long"
            )
        # SAME normalization on both sides: stored texts are
        # flatten(payload_json) (which e.g. appends a trailing period),
        # so raw benchmark strings must pass through flatten too —
        # otherwise an end-of-document verbatim quote loses its
        # final-token windows and an exactly-L-token quote at the end
        # of a document would be missed entirely
        bench = self.spark.createDataFrame(
            [(i, flatten(t)) for i, t in enumerate(benchmark_texts)],
            "b_ix long, _text string",
        )
        spans = SUB.contaminated_spans(
            self._category_doc_texts(cid),
            bench,
            L=L,
            id_col="document_id",
            text_col="_text",
            bench_id_col="b_ix",
            bench_text_col="_text",
        )
        return spans.select(
            F.col("_id").alias("document_id"), "s_pos", "e_pos", "n_windows"
        )

    def decontaminate_cut(
        self,
        owner: str,
        category: str,
        benchmark_texts: list[str],
        L: int = 8,
        re_embed: bool = False,
    ) -> int:
        """CUT every benchmark-contaminated span from a stored category —
        the write-path complement of :meth:`decontaminate_report`
        (operators/substr.decontaminate_cut: no keeper protection;
        contaminated text has no copy worth keeping). Same rewrite
        machinery and derived-store contract as :meth:`substr_dedup_cut`
        (partition-scoped upsert of changed documents only, text-index
        tombstone + compact + append, band-row rewrite); benchmark texts
        are flatten()-normalized like the stored side, so end-of-document
        quotes cut through their final period-bearing token. The cut's
        rebuilt text is storage-normalized inside the operator
        (``normalize=format_rejoined_text``), so a cut document's frame
        text IS its stored text — a report-after-cut sees exactly what
        the cut saw. Returns the number of rewritten documents."""
        from go_vectorsearch_spark.operators import substr as SUB
        from go_vectorsearch_spark.operators.documents import flatten

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"decontaminate_cut: unknown {owner}/{category}")
        if not benchmark_texts:
            return 0
        bench = self.spark.createDataFrame(
            [(i, flatten(t)) for i, t in enumerate(benchmark_texts)],
            "b_ix long, _text string",
        )
        # one flatten pass per cut call (see substr_dedup_cut): texts
        # feeds the window hashing, the rebuild and the change detection
        texts = self._category_doc_texts(cid).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
        from go_vectorsearch_spark.operators.documents import (
            format_rejoined_text,
        )

        try:
            cut = SUB.decontaminate_cut(
                texts,
                bench,
                L=L,
                id_col="document_id",
                text_col="_text",
                bench_id_col="b_ix",
                bench_text_col="_text",
                normalize=format_rejoined_text,
            )
            return self._rewrite_category_texts(
                owner, category, cid, cut, re_embed=re_embed, texts=texts
            )
        finally:
            texts.unpersist()

    def boilerplate_report(
        self, owner: str, category: str, min_df: int = 10
    ) -> DataFrame:
        """Corpus-level boilerplate-line report over a stored category
        (CCNet §4.1 at the serving layer): ``(line, n_docs)`` for every
        normalized line (lower + trim) appearing in at least ``min_df``
        DISTINCT stored documents — flatten() joins payload fields and
        list items with newlines, so "lines" here are the stored
        corpus's field/item granularity (shared footers, nav chrome,
        repeated disclaimers). Plan shape: the hot set is the operator's
        16-byte-hash aggregate (raw line text never shuffles to find
        it); only the HOT lines' text then survives a hash join out of
        a second scan into the tiny representative aggregate."""
        from go_vectorsearch_spark.operators.curation import (
            boilerplate_lines,
        )

        from go_vectorsearch_spark.operators.documents import (
            EMPTY_DOC_MARKER,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"boilerplate_report: unknown {owner}/{category}")
        if min_df < 2:
            # min_df=1 marks EVERY line hot (each line trivially appears
            # in >= 1 document) — the service route rejected this but a
            # direct Engine call did not (r11 advice); same guard as the
            # substring family's L >= 2
            raise ValueError(
                f"boilerplate_report: min_df must be >= 2, got {min_df}"
            )
        # empty-document markers (documents.EMPTY_DOC_MARKER — what the
        # storage normalization makes of a fully-cut document; shared
        # constant so this filter and the cut fixpoint's normalize-derived
        # marker can never desync, r11 advice) are excluded from the fit:
        # the marker is IRREMOVABLE (cutting it re-empties the document
        # and normalization restores it), so reporting it as hot would
        # send a report→cut→report runbook into a loop where the cut
        # returns 0 forever while the report stays non-empty (r11
        # review). The cut's fixpoint freezes the same documents for the
        # same reason.
        texts = self._category_doc_texts(cid).filter(
            F.col("_text") != EMPTY_DOC_MARKER
        )
        hot = boilerplate_lines(
            texts, id_col="document_id", text_col="_text", min_df=min_df
        )
        tagged = (
            texts.select(
                F.explode(
                    F.split(F.coalesce(F.col("_text"), F.lit("")), "\n", -1)
                ).alias("_line")
            )
            .select(F.lower(F.trim("_line")).alias("_n"))
            .withColumn("_lh", F.md5("_n"))
        )
        # no forced broadcast: hot is output-bounded, not corpus-bounded,
        # but AQE should make the call (the scale-guard discipline)
        return (
            tagged.join(hot, "_lh")
            .groupBy("_lh")
            .agg(F.min("_n").alias("line"), F.min("n_docs").alias("n_docs"))
            .select("line", "n_docs")
        )

    def boilerplate_cut(
        self,
        owner: str,
        category: str,
        min_df: int = 10,
        iterate: int = 3,
        re_embed: bool = False,
    ) -> int:
        """CUT every corpus-boilerplate line from a stored category —
        the write-path complement of :meth:`boilerplate_report` and the
        line-level sibling of :meth:`substr_dedup_cut` (no keeper:
        boilerplate has no copy worth keeping, the contamination-cut
        convention). Same rewrite machinery and derived-store contract
        (partition-scoped upsert of changed documents only, text-index
        tombstone/rebuild, band-row rewrite, optional ``re_embed``).

        Runs the operator FIXPOINT
        (:func:`~go_vectorsearch_spark.operators.curation.
        strip_boilerplate_fixpoint`) with the FULL storage normalization
        as a pure expression (``format_multiline_text`` — unlike the
        substring cut's token-rejoined output, a LINE cut can leave
        edges _format_string would clean: stored texts may carry empty
        lines from flatten's empty-list/empty-dict items, and cutting a
        document's final line leaves a trailing newline that
        period-append alone would turn into a phantom ``'.'`` line, r11
        advice) applied to changed documents INSIDE the loop: cutting a
        document's final line can period-migrate the new last line's
        normalized form across ``min_df``, and each pass re-fits on
        exactly the text the store would hold — a converged cut leaves
        :meth:`boilerplate_report` empty by construction (both sides
        exclude the irremovable empty-document marker from the fit, so
        the report→cut runbook terminates even after a mass-emptying
        cut). Returns the number of rewritten documents."""
        from go_vectorsearch_spark.operators.curation import (
            strip_boilerplate_fixpoint,
        )
        from go_vectorsearch_spark.operators.documents import (
            EMPTY_DOC_MARKER,
            _format_multiline_string,
            format_multiline_text,
        )

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"boilerplate_cut: unknown {owner}/{category}")
        if min_df < 2:
            # mirror boilerplate_report: min_df=1 would mark every line
            # hot and rewrite the entire category to empty-document
            # markers (r11 advice — only the service route validated)
            raise ValueError(
                f"boilerplate_cut: min_df must be >= 2, got {min_df}"
            )
        texts = self._category_doc_texts(cid).persist(
            StorageLevel.MEMORY_AND_DISK_DESER
        )
        try:
            cut = strip_boilerplate_fixpoint(
                texts,
                id_col="document_id",
                text_col="_text",
                min_df=min_df,
                iterate=iterate,
                normalize=format_multiline_text,
                # the shared storage constant — saves the fixpoint's
                # marker-resolution driver action, and this filter and
                # boilerplate_report's already use it (can't desync)
                marker=EMPTY_DOC_MARKER,
                # the pinned scalar twin of the format_multiline_text
                # EXPRESSION (not _format_string: the storage UDF's
                # Unicode .strip() would make the local path clean
                # differently than the distributed loop on exotic
                # whitespace edges) — enables the fixpoint's adaptive
                # driver-local path for driver-sized categories
                normalize_py=_format_multiline_string,
            )
            return self._rewrite_category_texts(
                owner, category, cid, cut, re_embed=re_embed, texts=texts
            )
        finally:
            texts.unpersist()

    def build_neardup_index(self, owner: str, category: str) -> int:
        """Build (or rebuild) the category's persisted near-dup band
        index over the flattened document texts. Returns the number of
        indexed documents (shingle-less docs contribute no rows)."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"build_neardup_index: unknown {owner}/{category}")
        rows = self._doc_band_rows(self._category_doc_texts(cid), "document_id")
        t = self._neardup_table(cid)
        # persist so the write materializes the band rows ONCE and the
        # return-value count reuses them — no read-back of the store
        rows.persist()
        try:
            t.write(rows)
            return rows.select("document_id").distinct().count()
        finally:
            rows.unpersist()

    def append_neardup_index(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Incrementally index newly uploaded documents: their band rows
        APPEND; untouched bucket partitions carry by manifest reference
        (the upload path's discipline, like :meth:`append_text_index`)."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"append_neardup_index: unknown {owner}/{category}")
        if not os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
            raise ValueError(
                f"append_neardup_index: no near-dup index for "
                f"{owner}/{category}; run build_neardup_index first"
            )
        if not document_ids:
            return 0
        rows = self._doc_band_rows(
            self._category_doc_texts(cid, document_ids), "document_id"
        )
        self._neardup_table(cid).append(rows)
        return len(document_ids)

    def neardup_pairs_report(
        self, owner: str, category: str, threshold: float = 0.5
    ) -> DataFrame:
        """Corpus-level near-duplicate PAIRS within a stored category:
        (id_a, id_b, jaccard) over the flattened document texts —
        operators/dedup.minhash_lsh_pairs run where the data lives, the
        settled-corpus complement of the ingest-time neardup_check
        (which only answers 'is this NEW text a dup of something
        stored'). Banded LSH candidates + exact verification; raw text
        never shuffles."""
        from go_vectorsearch_spark.operators import dedup as DD

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"neardup_pairs_report: unknown {owner}/{category}")
        return DD.minhash_lsh_pairs(
            self._category_doc_texts(cid),
            id_col="document_id",
            text_col="_text",
            threshold=threshold,
        ).select(
            F.col("id_a").alias("document_id_a"),
            F.col("id_b").alias("document_id_b"),
            "jaccard",
        )

    def compact_neardup_index(self, owner: str, category: str) -> int:
        """Drop band rows of deleted documents from the category's
        near-dup store (one semi-join against the live documents +
        one snapshot rewrite — the store is 4 rows/doc, metadata-scale
        next to the corpus). Stale rows are only ever a candidate-work
        tax (the exact verify self-heals them, see neardup_check), so
        this is amortized hygiene like compact_postings, not a
        correctness requirement. Returns the surviving row count."""
        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"compact_neardup_index: unknown {owner}/{category}")
        if not os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
            raise ValueError(
                f"compact_neardup_index: no near-dup index for "
                f"{owner}/{category}; run build_neardup_index first"
            )
        t = self._neardup_table(cid)
        live = (
            self.t["documents"]
            .read()
            .filter(F.col("category_id") == cid)
            .select("document_id")
        )
        # The snapshot read and the rewrite must be ONE cross-process
        # critical section (_write_lock is reentrant, so the inner
        # write's own acquisition nests): resolving the version outside
        # the flock would let another replica's append_neardup_index
        # land in between and be silently erased by this stale-plan
        # write — losing LIVE band rows, not just stale ones. Same
        # discipline as _VersionedTable.compact.
        with t._write_lock():
            kept = t.read().join(live, "document_id", "left_semi")
            t.write(kept)
            return t.read().count()

    # past this many incoming texts, skip the driver-side band-key pull
    # that powers bucket pruning and read the whole (still tiny) band
    # store instead — a bulk re-dedup job touches most buckets anyway
    _NEARDUP_PRUNE_CAP = 10_000

    def neardup_check(
        self,
        owner: str,
        category: str,
        texts: list[str],
        threshold: float = 0.5,
    ) -> DataFrame:
        """Near-duplicate matches of ``texts`` against the category's
        persisted band index — WITHOUT uploading them.

        Returns (q_ix, document_id, jaccard): input index, matched
        stored document, exact hashed-shingle Jaccard >= ``threshold``.
        Cost profile: band keys of the batch (map-side), one
        bucket-pruned read of the band store, and exact verification
        that re-shingles ONLY the candidate stored documents (an
        id-bucket-pruned documents read) — corpus size never enters.
        """
        from go_vectorsearch_spark.operators import dedup as DD

        cid = self._category_id(owner, category)
        if cid is None:
            raise ValueError(f"neardup_check: unknown {owner}/{category}")
        if not os.path.exists(f"{self._neardup_path(cid)}/VERSION"):
            raise NearDupIndexMissing(
                f"neardup_check: no near-dup index for {owner}/{category}; "
                "run build_neardup_index first"
            )
        empty = self.spark.createDataFrame(
            [], "q_ix long, document_id long, jaccard double"
        )
        if not texts:
            return empty
        new = self.spark.createDataFrame(
            list(enumerate(texts)), "q_ix long, _text string"
        )
        # NOT persisted: a serving frame outliving the call would leak
        # storage per request; re-shingling a request-sized batch per
        # action is map-side noise (bulk callers shingle once per pass)
        shingled_new = DD.shingled_docs(new, id_col="q_ix", text_col="_text")
        new_bands = self._doc_band_rows_from_shingled(shingled_new, "q_ix")

        cand_ids = None
        if len(texts) <= self._NEARDUP_PRUNE_CAP:
            # serving path — ONE job derives everything driver-side:
            # the batch's band rows are <= 4 x |texts| short rows, so
            # collect them once and reuse the literal rows for bucket
            # pruning AND the candidate join (re-deriving the band
            # frame per downstream action would re-shingle the batch
            # and re-read the store once per collect)
            band_rows = new_bands.collect()
            if not band_rows:
                return empty
            buckets = sorted(
                {int(r["key"][:8], 16) % N_BAND_BUCKETS for r in band_rows}
            )
            store = self._neardup_table(cid).read(partition_values=buckets)
            new_bands = self.spark.createDataFrame(
                band_rows, "q_ix long, band int, key string"
            )
            cand_rows = (
                new_bands.join(store, ["band", "key"])
                .select("q_ix", "document_id")
                .distinct()
                .collect()
            )
            if not cand_rows:
                return empty
            cand = self.spark.createDataFrame(
                cand_rows, "q_ix long, document_id long"
            )
            # exact verify over the candidate set only: candidate ids
            # prune the documents read to their hash buckets (the
            # append_text_index pattern); candidates are bounded by
            # batch x bucket collisions, so the pull is serving-sized
            cand_ids = sorted({r["document_id"] for r in cand_rows})
        else:
            # bulk path — stay fully distributed: read every bucket and
            # verify against an unpruned (but candidate-semi-joined) scan
            store = self._neardup_table(cid).read()
            cand = (
                new_bands.join(store, ["band", "key"])
                .select("q_ix", "document_id")
                .distinct()
            )
        stored = DD.shingled_docs(
            self._category_doc_texts(cid, cand_ids),
            id_col="document_id",
            text_col="_text",
        ).select(F.col("_id").alias("document_id"), F.col("_sh").alias("_shb"))
        # bind the intersection size once: codegen does not CSE repeated
        # subexpressions, so referencing it in both numerator and
        # denominator evaluates array_intersect a single time (matches
        # the streaming twin, streaming/dedup.py)
        inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
        jac = inter / (F.size("_sha") + F.size("_shb") - inter).cast("double")
        out = (
            cand.join(
                shingled_new.select(
                    F.col("_id").alias("q_ix"), F.col("_sh").alias("_sha")
                ),
                "q_ix",
            )
            .join(stored, "document_id")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("q_ix", "document_id", "jaccard")
        )
        return out

    def _doc_band_rows_from_shingled(
        self, shingled: DataFrame, id_col: str
    ) -> DataFrame:
        from go_vectorsearch_spark.operators import dedup as DD

        return DD.stored_band_rows(shingled, id_col)

    def search_hybrid(
        self,
        owner: str,
        category: str,
        text: str,
        count: int = 10,
        offset: int = 0,
        nprobe: int = 0,
        fuse_depth: int = 60,
        rrf_c: int = 60,
        where=None,
    ) -> DataFrame:
        """Hybrid search: the query's vector top-``fuse_depth`` from
        :meth:`_vector_rows` and its BM25 top-``fuse_depth``, fused by
        reciprocal-rank fusion, then paged and hydrated like
        :meth:`search`. Requires :meth:`build_text_index` for the
        category (the same explicit-build contract as the centroid
        index); a leg with no hits contributes nothing to the fusion.

        ``where`` (a Column predicate over the documents table)
        pre-filters BOTH legs through the same allowed-document frame:
        the vector leg as :meth:`search` filters and widens it, the
        term-pruned postings before BM25 ranking. A filtered page so
        holds ``count`` matches whenever that many exist, where
        post-filtering the fused page would underfill."""
        from go_vectorsearch_spark.operators.fulltext import (
            bm25_search_stored,
            rrf_fuse,
        )

        count, offset, nprobe = normalize_search_args(count, offset, nprobe)
        scope = self._category_id(owner, category)
        if scope is None:
            return self._empty_search_result()
        path = self._text_index_path(scope)
        if not os.path.exists(f"{path}/VERSION"):
            raise ValueError(
                f"search_hybrid: no text index for {owner}/{category}; "
                "run build_text_index first"
            )
        allowed = None if where is None else self._allowed_docs(scope, where)
        lexical = bm25_search_stored(
            self.spark, path, text, k=fuse_depth, allowed=allowed
        ).withColumnRenamed("doc_id", "document_id")
        # the vector leg is the query's top-fuse_depth rows from the one
        # core, filtered and widened like search()'s page; collected, it
        # joins the fusion as a local frame, so RRF never rescans it
        qvec = self._embed_query(f"{SEARCH_QUERY_PREFIX}{text}")
        vec = self._vector_rows(scope, [qvec], fuse_depth, nprobe, where)[0]
        rankings = [lexical]
        if vec:
            rankings.append(_local_frame(
                self.spark,
                [(r["document_id"], r["score"]) for r in vec],
                "document_id long, score double",
            ))
        fused = rrf_fuse(
            rankings, k=count + offset, c=rrf_c, id_col="document_id"
        )
        page_rows = fused.collect()[offset:]
        return self._hydrate_page(page_rows, scope)

    # -- chat (server/chat.go:109-181, minus the LLM call) -------------------
    def chat_messages(
        self,
        text: str,
        document_ids: Sequence[int] = (),
        history: Sequence[str] = (),
        prefix: str = "",
    ) -> list[dict[str, str]]:
        """Assemble the chat request payload the reference would send to
        its LLM provider: retrieve the referenced documents (S4 PK-list
        lookup), flatten each payload (doc.Document.JSON() -> Flatten,
        chat.go:122-124), and build the alternating-history + quoted-
        context + "My question is: " message list. The LLM call itself
        is out of engine scope (SURVEY.md §2.11)."""
        import json

        from go_vectorsearch_spark.operators.documents import flatten
        from go_vectorsearch_spark.operators.rag import build_messages

        doc_texts: list[str] = []
        if document_ids:
            rows = (
                lookup_by_keys(
                    self.t["documents"].read(), "document_id", list(document_ids)
                )
                .select("document_id", "payload_json")
                .collect()
            )
            by_id = {r["document_id"]: r["payload_json"] for r in rows}
            # preserve the caller's id order (GORM Find keeps request order
            # only incidentally; deterministic order is strictly better)
            doc_texts = [
                flatten(json.loads(by_id[d])) for d in document_ids if d in by_id
            ]
        return build_messages(text, doc_texts, history, prefix)

    # -- fetch (server/fetch.go:19-124) -------------------------------------
    def table_changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed of an engine table between two snapshot versions
        (see _VersionedTable.changes), keyed by the table's unique id
        column so in-place mutations surface as update_preimage/
        update_postimage pairs rather than unrelated delete+insert
        rows. Keys are DECLARED per table (_TABLE_KEYS), not derived
        from DDL column order: keyed-diff correctness requires a
        per-snapshot-unique column, and a silent convention would let a
        reordered schema key the diff on a non-unique column."""
        return self.t[name].changes(
            from_version, to_version, key=_TABLE_KEYS[name]
        )

    def fetch_category_names(self, owner: str) -> list[str]:
        owners = self.t["owners"].read().filter(F.col("name") == owner)
        cats = self.t["categories"].read()
        rows = (
            cats.join(
                owners.select(F.col("owner_id").alias("_oid")),
                cats.owner_id == F.col("_oid"),
                "left_semi",
            )
            .select("name")
            .orderBy("name")
            .collect()
        )
        return [r[0] for r in rows]

    # -- serving-layer metadata (cache/middleware.go:18-163) -----------------
    def _invalidate_cache(self) -> None:
        if self._cache:
            self._cache.clear()

    def _category_id(self, owner: str, category: str) -> int | None:
        """owner name + category name -> category_id, TTL-cached with
        singleflight like the reference's FetchOwner/FetchCategory
        (misses — unknown owner/category — are never cached)."""

        def load() -> int | None:
            owners = self.t["owners"].read().filter(F.col("name") == owner)
            o = owners.head()
            if o is None:
                return None
            c = (
                self.t["categories"]
                .read()
                .filter(
                    (F.col("owner_id") == o["owner_id"]) & (F.col("name") == category)
                )
                .head()
            )
            return None if c is None else c["category_id"]

        if self._cache:
            return self._cache.get(("category_id", owner, category), load)
        return load()

    def _category_centroids(self, cid: int) -> list[tuple[int, list[float]]]:
        """All (centroid_id, vector) of a category, TTL-cached — the
        reference's FetchCentroids (cache/middleware.go:115-163): search
        resolves its probe set WITHOUT touching storage on repeat
        requests. Bounded by design: centroid count ~ rows/10k (the
        reference likewise holds a category's full centroid set in
        process memory, server/search.go:202-227); for beyond-memory
        centroid sets use plans/ivf.nearest_centroids_distributed."""

        def load() -> list[tuple[int, list[float]]]:
            return [
                (r["centroid_id"], r["vector"])
                for r in self.t["centroids"]
                .read()
                .filter(F.col("category_id") == cid)
                .collect()
            ]

        if self._cache:
            return self._cache.get(("centroids", cid), load)
        return load()

    # -- deletes (server/delete.go:214-288, cascades as anti-joins) ----------

    def _cascade_plans(self, victim_cats: DataFrame) -> dict[str, DataFrame]:
        """Pure plan builder for a category cascade: survivor frames for
        embeddings/documents/centroids given victim categories. Split
        from the writes so tests can assert on the plans directly; the
        WRITE path (_cascade_categories) re-derives its survivor frames
        from partition-pruned reads once the touched sets are known —
        these full-read plans define the semantics the pruned writes
        must match.

        Only the victim CATEGORY-ID set is broadcast-hinted (ids only,
        bounded by categories-per-owner). victim_docs = ALL document ids
        of the deleted categories — unbounded at the design point, so NO
        broadcast hint: Catalyst (with AQE) picks broadcast only when
        that side is actually small, falling back to a shuffle anti-join
        otherwise."""
        vc = F.broadcast(victim_cats.select("category_id"))
        docs = self.t["documents"].read()
        victim_docs = docs.join(vc, "category_id", "left_semi").select("document_id")
        emb = self.t["embeddings"].read()
        return {
            "embeddings": emb.join(victim_docs, "document_id", "left_anti"),
            "documents": docs.join(vc, "category_id", "left_anti"),
            "centroids": self.t["centroids"].read().join(
                vc, "category_id", "left_anti"
            ),
            "victim_docs": victim_docs,
        }

    def _cascade_categories(self, victim_cats: DataFrame) -> None:
        """Given victim categories (category_id col), delete their
        documents, embeddings, and centroids bottom-up via anti-joins —
        rewriting ONLY the partitions that actually held victim rows.
        The touched-partition collects are bounded by the partition
        counts (centroids per table, N_DOC_BUCKETS), never by rows."""
        plans = self._cascade_plans(victim_cats)
        emb = self.t["embeddings"].read()
        touched_cents = [
            r[0]
            for r in emb.join(
                plans["victim_docs"], "document_id", "left_semi"
            )
            .select("centroid_id")
            .distinct()
            .collect()
        ]
        touched_buckets = [
            r[0]
            for r in plans["victim_docs"]
            .select(F.expr(_PARTITION_EXPRS["documents"]))
            .distinct()
            .collect()
        ]
        # survivor frames for the WRITES re-read only the touched
        # partitions (manifest pruning) — the full-table reads above
        # exist to IDENTIFY victims, and must not be what the rewrite
        # jobs scan (O(touched) read side at the 100 TB design point)
        vc = F.broadcast(victim_cats.select("category_id"))
        if touched_cents:
            self.t["embeddings"].overwrite_partitions(
                self.t["embeddings"]
                .read(partition_values=touched_cents)
                .join(plans["victim_docs"], "document_id", "left_anti"),
                touched_cents,
            )
        if touched_buckets:
            self.t["documents"].overwrite_partitions(
                self.t["documents"]
                .read(partition_values=touched_buckets)
                .join(vc, "category_id", "left_anti"),
                touched_buckets,
            )
        self.t["centroids"].write(plans["centroids"])
        # a deleted category's BM25 store would otherwise sit orphaned
        # on disk forever (and search_hybrid can never reach it — the
        # category id is gone). The victim-id collect is bounded by
        # categories-per-owner, like the cascade's other collects.
        import shutil

        for (cid,) in victim_cats.select("category_id").collect():
            for dead in (
                self._text_index_path(int(cid)),
                self._neardup_path(int(cid)),
            ):
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)

    def delete_owner(self, owner: str) -> None:
        owners = self.t["owners"].read()
        victim = owners.filter(F.col("name") == owner)
        cats = self.t["categories"].read()
        victim_cats = cats.join(
            F.broadcast(victim.select("owner_id")), "owner_id", "left_semi"
        )
        self._cascade_categories(victim_cats)
        self.t["categories"].write(
            cats.join(F.broadcast(victim.select("owner_id")), "owner_id", "left_anti")
        )
        self.t["owners"].write(owners.filter(F.col("name") != owner))
        self._invalidate_cache()

    def delete_category(self, owner: str, category: str) -> None:
        cid = self._category_id(owner, category)
        if cid is None:
            return
        cats = self.t["categories"].read()
        self._cascade_categories(cats.filter(F.col("category_id") == cid))
        self.t["categories"].write(cats.filter(F.col("category_id") != cid))
        self._invalidate_cache()

    def delete_document(self, owner: str, category: str, document_id: int) -> None:
        """Tenant-scoped document delete (server/delete.go:252-279): the
        reference resolves owner -> category and deletes only
        ``WHERE category_id = ? AND id = ?`` — a caller can never delete
        another tenant's identically-ID'd document. Missing owner or
        category is a silent no-op (gorm.ErrRecordNotFound -> nil)."""
        self.delete_documents(owner, category, [document_id])

    def delete_documents(
        self, owner: str, category: str, document_ids: list[int]
    ) -> int:
        """Bulk tenant-scoped document delete — the batch form of
        :meth:`delete_document` (an engine extension; the reference
        only deletes one id per request). Every touched partition is
        rewritten ONCE for the whole batch: per-id deletes of N
        documents sharing a hash bucket or a centroid list would
        rewrite that partition N times, the batch rewrites it once —
        the difference between O(N x touched) and O(touched) write
        amplification on a retention sweep. Ids not belonging to this
        tenant (or unknown) are silently skipped, per the reference's
        not-found semantics. Returns the number of documents deleted."""
        cid = self._category_id(owner, category)
        if cid is None or not document_ids:
            return 0
        ids = sorted({int(i) for i in document_ids})
        # the victim check reads ONLY the ids' hash-bucket partitions
        # (manifest pruning); the same pruned read yields each victim's
        # token count so the text-index tombstones below can shrink the
        # corpus stats exactly without a postings scan
        from go_vectorsearch_spark.operators.documents import flatten_json_udf
        from go_vectorsearch_spark.operators.fulltext import tokenize

        buckets = sorted({i % N_DOC_BUCKETS for i in ids})
        victim = F.col("document_id").isin(ids) & (F.col("category_id") == cid)
        victim_rows = (
            self.t["documents"]
            .read(partition_values=buckets)
            .filter(victim)
            .select(
                "document_id",
                F.size(
                    tokenize(flatten_json_udf(F.col("payload_json")))
                ).alias("_dl"),
            )
            .collect()
        )
        if not victim_rows:
            return 0  # no verified victims in this tenant: no-op
        verified = sorted(r["document_id"] for r in victim_rows)
        dl_by_doc = {r["document_id"]: int(r["_dl"]) for r in victim_rows}
        victim_buckets = sorted({i % N_DOC_BUCKETS for i in verified})
        # embeddings carry no category_id — the cascade follows the
        # VERIFIED victim documents (FK ON DELETE CASCADE semantics),
        # so a bare document_id match can't cross tenants here either.
        emb = self.t["embeddings"].read()
        touched_cents = [
            r[0]
            for r in emb.filter(F.col("document_id").isin(verified))
            .select("centroid_id")
            .distinct()
            .collect()
        ]
        # SURVIVOR frames read only the touched partitions (manifest-
        # level pruning): identifying victims costs one column scan, but
        # the rewrite job must not list/scan the whole table again —
        # O(touched) on the read side matches O(touched) on the write
        if touched_cents:
            self.t["embeddings"].overwrite_partitions(
                self.t["embeddings"]
                .read(partition_values=touched_cents)
                .filter(~F.col("document_id").isin(verified)),
                touched_cents,
            )
        self.t["documents"].overwrite_partitions(
            self.t["documents"]
            .read(partition_values=victim_buckets)
            .filter(~victim),
            victim_buckets,
        )
        # the text index must not keep ranking dead documents: their
        # postings would occupy lexical top-n slots that hydration then
        # drops, silently underfilling hybrid pages. One tombstone
        # commit for the whole batch, with the exact dls recovered
        # above — O(manifest), no bucket rewrite
        tpath = self._text_index_path(cid)
        if os.path.exists(f"{tpath}/VERSION"):
            from go_vectorsearch_spark.operators.fulltext import (
                _store_manifest,
                _store_version,
                compact_postings,
                delete_postings,
            )

            delete_postings(self.spark, tpath, verified, dl_by_doc=dl_by_doc)
            # the tombstone list rides every reader's plan as a NOT-IN
            # literal; many point deletes without a maintenance pass
            # would bloat it unboundedly, so past a threshold the
            # delete itself triggers the compaction that purges them
            # (bounded amortized cost, like the tables' compact)
            m = _store_manifest(tpath, _store_version(tpath))
            if len(m.get("tombstones", [])) >= 1024:
                compact_postings(self.spark, tpath)
        self._invalidate_cache()
        return len(verified)

    # -- index refresh (server/centroids.go:17-83 -> plans/ivf) --------------
    def _refresh_scope(self, cid: int) -> DataFrame:
        """Embeddings of one category via doc-id semi-join. The
        category's doc-id set is unbounded (a category can hold the
        whole corpus) — no broadcast hint; Catalyst broadcasts iff the
        filtered side is actually under the threshold."""
        emb = self.t["embeddings"].read()
        docs = self.t["documents"].read().filter(F.col("category_id") == cid)
        return emb.join(docs.select("document_id"), "document_id", "left_semi")

    def refresh_index(self, owner: str, category: str, max_leaf: int = 10_000) -> int:
        """Rebuild the category's IVF index; returns the centroid count."""
        from go_vectorsearch_spark.plans.ivf import build_index

        cid = self._category_id(owner, category)
        if cid is None:
            return 0
        emb = self.t["embeddings"].read()
        scoped = self._refresh_scope(cid)
        if scoped.isEmpty():
            return 0
        index = build_index(
            dequantized_vector(scoped).select(
                F.col("embedding_id").alias("vec_id"), F.col("vector").alias("embedding")
            ),
            max_leaf=max_leaf,
        )
        base = self._next_id("centroids", "centroid_id")
        cents = index.centroids.select(
            (F.lit(base) + F.col("centroid_id")).alias("centroid_id"),
            F.lit(cid).cast("long").alias("category_id"),
            F.col("centroid_vec").cast("array<float>").alias("vector"),
        )
        keep = self.t["centroids"].read().filter(F.col("category_id") != cid)
        self.t["centroids"].write(keep.unionByName(cents))
        assigned = index.assigned.select(
            F.col("vec_id").alias("embedding_id"),
            (F.lit(base) + F.col("centroid_id")).alias("_new_centroid"),
        )
        out = (
            emb.join(assigned, "embedding_id", "left")
            .withColumn(
                "centroid_id", F.coalesce(F.col("_new_centroid"), F.col("centroid_id"))
            )
            .drop("_new_centroid")
        )
        # full write is CORRECT here: the refresh reassigns every row's
        # centroid_id, so every partition's membership changes (the
        # reference likewise re-UPDATEs all assignments, dnc.go:176-263)
        self.t["embeddings"].write(out)
        self._invalidate_cache()  # new centroid set
        return cents.count()

    def refresh_index_incremental(
        self,
        owner: str,
        category: str,
        max_leaf: int = 10_000,
        drift_threshold: float = 0.01,
    ) -> dict:
        """Incremental IVF maintenance — touch ONLY the centroids whose
        state changed, carrying every other embeddings partition by
        manifest reference:

          * OVERSIZED leaves (> max_leaf) are re-split by a local
            k-means over just their own partitions (the reference
            recursing into one subtree, dnc/dnc.go:300-400);
          * SMALL leaves (< max_leaf/10, dnc/dnc.go:486) are dissolved —
            members reassigned to the nearest kept centroid;
          * EMPTY leaves (every member deleted since the last refresh)
            are dropped;
          * DRIFTED leaves (cosine distance between the stored centroid
            and the current member mean > drift_threshold) are
            re-centered IN PLACE — a centroids-table row update, no
            embeddings movement at all.

        :meth:`refresh_index` is faithful to the reference's full
        rebuild (dnc/dnc.go:35-297) but re-scans and re-writes the whole
        category every time — the inherited scale-killer at 100 TB.
        This variant costs one stats pass over the category (map-side
        count+mean, k-row result) plus work proportional to the CHURN:
        the embeddings commit removes/adds only the split, dissolved,
        empty and receiving partitions (one atomic
        :meth:`_VersionedTable.replace_partitions`).

        Returns ``{"split": [...], "dropped": [...], "recentered":
        [...], "centroids": n}`` (old centroid ids; ``centroids`` is
        the category's final count)."""
        import numpy as np

        from go_vectorsearch_spark.operators.assign import assign_nearest_mat
        from go_vectorsearch_spark.plans.ivf import build_index

        noop = {"split": [], "dropped": [], "recentered": [], "centroids": 0}
        cid = self._category_id(owner, category)
        if cid is None:
            return noop
        cents = self._category_centroids(cid)
        if not cents:
            # nothing indexed yet: the full build IS the increment
            n = self.refresh_index(owner, category, max_leaf=max_leaf)
            return {**noop, "centroids": n}
        cent_ids = sorted(int(c) for c, _ in cents)
        stored = {int(c): [float(x) for x in v] for c, v in cents}

        # one stats pass: per-centroid member count + elementwise mean
        # (map-side partial agg; result is k x dim driver rows, the same
        # boundedness as the centroid cache itself)
        emb = (
            self.t["embeddings"]
            .read(partition_values=cent_ids)
            .filter(F.col("centroid_id").isin(cent_ids))
        )
        per = (
            dequantized_vector(emb)
            .select("centroid_id", F.posexplode("vector").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("val"), F.count("*").alias("n"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("mean_vec"),
                F.max("n").alias("n"),
            )
            .collect()
        )
        sizes = {int(r["centroid_id"]): int(r["n"]) for r in per}
        means = {
            int(r["centroid_id"]): [float(x) for x in r["mean_vec"]] for r in per
        }
        min_leaf = max_leaf // 10
        empty = [c for c in cent_ids if c not in sizes]
        oversized = sorted(c for c in sizes if sizes[c] > max_leaf)
        small = sorted(
            c for c in sizes if sizes[c] < min_leaf and c not in oversized
        )
        survivors = [
            c
            for c in cent_ids
            if c not in set(oversized) | set(small) | set(empty)
        ]
        drifted = []
        for c in survivors:
            m = np.asarray(means[c], dtype=np.float64)
            s = np.asarray(stored[c], dtype=np.float64)
            denom = float(np.linalg.norm(m) * np.linalg.norm(s))
            cos = float(m @ s) / denom if denom else 1.0
            if 1.0 - cos > drift_threshold:
                drifted.append(c)
        if not (empty or oversized or small or drifted):
            return {**noop, "centroids": len(cent_ids)}  # true no-op: no commit

        # -- splits: local k-means per oversized leaf ---------------------
        next_id = self._next_id("centroids", "centroid_id")
        new_cent_rows: list[tuple[int, list[float]]] = []
        moved_frames: list[DataFrame] = []
        for c in oversized:
            part = (
                self.t["embeddings"]
                .read(partition_values=[c])
                .filter(F.col("centroid_id") == c)
            )
            sub = build_index(
                dequantized_vector(part).select(
                    F.col("embedding_id").alias("vec_id"),
                    F.col("vector").alias("embedding"),
                ),
                max_leaf=max_leaf,
            )
            sub_cents = sub.centroids.collect()
            id_map = {
                int(r["centroid_id"]): next_id + i
                for i, r in enumerate(sub_cents)
            }
            next_id += len(sub_cents)
            new_cent_rows.extend(
                (id_map[int(r["centroid_id"])], [float(x) for x in r["centroid_vec"]])
                for r in sub_cents
            )
            remap = F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for old, new in sorted(id_map.items())
                        for x in (old, new)
                    ]
                ),
                F.col("_local"),
            )
            assigned = sub.assigned.select(
                F.col("vec_id").alias("embedding_id"),
                F.col("centroid_id").alias("_local"),
            ).select("embedding_id", remap.alias("_new_cid"))
            moved_frames.append(
                part.drop("centroid_id")
                .join(assigned, "embedding_id")
                .select(
                    "embedding_id",
                    "document_id",
                    F.col("_new_cid").alias("centroid_id"),
                    "codes",
                    "lo",
                    "hi",
                )
            )

        # -- dissolves: reassign small leaves' members to kept centroids --
        # targets = survivors (re-centered where drifted) + the new
        # sub-centroids, exactly the set the final centroid table holds
        targets = [
            (c, np.asarray(means[c] if c in drifted else stored[c], dtype=np.float64))
            for c in survivors
        ] + [(c, np.asarray(v, dtype=np.float64)) for c, v in new_cent_rows]
        if small and not targets:
            small = []  # nowhere to dissolve into — keep the leaves
        if small:
            small_rows = (
                self.t["embeddings"]
                .read(partition_values=small)
                .filter(F.col("centroid_id").isin(small))
            )
            reassigned = assign_nearest_mat(
                dequantized_vector(small_rows),
                targets,
                vec_col="vector",
                out_col="_new_cid",
            )
            moved_frames.append(
                reassigned.select(
                    "embedding_id",
                    "document_id",
                    F.col("_new_cid").alias("centroid_id"),
                    "codes",
                    "lo",
                    "hi",
                )
            )

        # -- commit order is the crash-safety story -----------------------
        # Three commits, each leaving a searchable table pair:
        #   1. APPEND the new sub-centroids (old + new both live; new
        #      ids probe not-yet-existing partitions — empty, harmless);
        #   2. move the embeddings atomically (old split ids now probe
        #      dropped partitions — empty; their rows are live under
        #      the new ids, which ARE in the centroids table);
        #   3. final centroids rewrite (drop split/dissolved/empty ids,
        #      apply re-centers).
        # A crash between any two leaves no unreachable data, and a
        # re-run self-heals: ids whose partitions are gone classify as
        # EMPTY and drop; a leftover appended id with no rows likewise.
        # (Committing the moves before ANY centroids write would orphan
        # the moved rows under ids no table references.)
        remove_keys = list(oversized) + list(small) + list(empty)
        if new_cent_rows:
            self.t["centroids"].append(
                self.spark.createDataFrame(
                    [(c, cid, v) for c, v in new_cent_rows],
                    _SCHEMAS["centroids"],
                )
            )
        if moved_frames or remove_keys:
            moved = moved_frames[0] if moved_frames else None
            for f in moved_frames[1:]:
                moved = moved.unionByName(f)
            if moved is None:  # only empties to drop
                moved = self.spark.createDataFrame([], _SCHEMAS["embeddings"])
            self.t["embeddings"].replace_partitions(moved, remove_keys)
        kept_rows = [
            (
                c,
                cid,
                [float(x) for x in (means[c] if c in drifted else stored[c])],
            )
            for c in cent_ids
            if c not in set(remove_keys)
        ] + [(c, cid, v) for c, v in new_cent_rows]
        others = self.t["centroids"].read().filter(F.col("category_id") != cid)
        self.t["centroids"].write(
            others.unionByName(
                self.spark.createDataFrame(kept_rows, _SCHEMAS["centroids"])
            )
        )
        self._invalidate_cache()
        return {
            "split": list(oversized),
            "dropped": sorted(set(small) | set(empty)),
            "recentered": list(drifted),
            "centroids": len(kept_rows),
        }

    def compact(self, min_dirs: int = 2) -> dict[str, list[str]]:
        """Compact every engine table's fragmented partitions (see
        _VersionedTable.compact) — the maintenance job a deployment runs
        beside the background index refresh. Returns the compacted
        partition keys per table."""
        out = {name: t.compact(min_dirs=min_dirs) for name, t in self.t.items()}
        self._invalidate_cache()
        return out

    def stats(self) -> dict:
        """Operational snapshot: per-table row counts + current version,
        and per-(owner, category) document/embedding/centroid counts +
        text-index presence. Per-category embedding counts come from
        groupBy(centroid_id) joined to the TINY centroids table — never
        a corpus-sized embeddings⋈documents join; every collect here is
        bounded by the number of tables/categories (metadata-scale)."""
        tables = {
            name: {"rows": t.read().count(), "version": t._version()}
            for name, t in self.t.items()
        }
        owners = self.t["owners"].read().select(
            "owner_id", F.col("name").alias("_owner")
        )
        cats = (
            self.t["categories"]
            .read()
            .join(owners, "owner_id")
            .select("category_id", "_owner", F.col("name").alias("_cat"))
        )
        doc_counts = {
            r["category_id"]: r["n"]
            for r in self.t["documents"]
            .read()
            .groupBy("category_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        cent = self.t["centroids"].read().select("centroid_id", "category_id")
        emb_counts = {
            r["category_id"]: r["n"]
            for r in self.t["embeddings"]
            .read()
            .groupBy("centroid_id")
            .agg(F.count("*").alias("_c"))
            .join(F.broadcast(cent), "centroid_id")
            .groupBy("category_id")
            .agg(F.sum("_c").alias("n"))
            .collect()
        }
        cent_counts = {
            r["category_id"]: r["n"]
            for r in cent.groupBy("category_id").agg(F.count("*").alias("n")).collect()
        }
        categories = [
            {
                "owner": r["_owner"],
                "category": r["_cat"],
                "documents": int(doc_counts.get(r["category_id"], 0)),
                "embeddings": int(emb_counts.get(r["category_id"], 0)),
                "centroids": int(cent_counts.get(r["category_id"], 0)),
                "text_index": os.path.exists(
                    f"{self._text_index_path(r['category_id'])}/VERSION"
                ),
                "neardup_index": os.path.exists(
                    f"{self._neardup_path(r['category_id'])}/VERSION"
                ),
            }
            for r in sorted(
                cats.collect(), key=lambda r: (r["_owner"], r["_cat"])
            )
        ]
        return {"tables": tables, "categories": categories}

    def refresh_all(
        self, max_leaf: int = 10_000, incremental: bool = False
    ) -> dict[tuple[str, str], int]:
        """RefreshCentroids parity (server/centroids.go:17-83, run once
        at startup, main.go:92): rebuild the IVF index of EVERY category
        of every owner, one category at a time like the reference's
        sequential sweep. Returns {(owner, category): centroid count}.
        ``incremental=True`` runs :meth:`refresh_index_incremental`
        instead — the churn-proportional maintenance sweep a deployment
        schedules between full rebuilds. The category list is a
        bounded-metadata collect; the reference's per-category Postgres
        SHARE NOWAIT lock (C7) is n/a with a single driver (SURVEY
        §2.8)."""
        cats = self.t["categories"].read()
        owners = self.t["owners"].read().select(
            F.col("owner_id"), F.col("name").alias("_owner_name")
        )
        pairs = (
            cats.join(owners, "owner_id")
            .select("_owner_name", "name")
            .orderBy("_owner_name", "name")
            .collect()
        )
        if incremental:
            return {
                (r["_owner_name"], r["name"]): self.refresh_index_incremental(
                    r["_owner_name"], r["name"], max_leaf=max_leaf
                )["centroids"]
                for r in pairs
            }
        return {
            (r["_owner_name"], r["name"]): self.refresh_index(
                r["_owner_name"], r["name"], max_leaf=max_leaf
            )
            for r in pairs
        }
