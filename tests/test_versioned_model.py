"""Model-based randomized check of the manifest-versioned table.

The storage layer is the round's riskiest code path: a seeded random
sequence of append / overwrite_partitions / upsert / compact is applied
both to a `_VersionedTable` and to a plain in-memory dict model; after
every operation the table must equal the model exactly, and at the end
every surviving snapshot must replay its recorded historical state
(time travel) while partitions untouched since the previous version
keep their directories by reference."""

from __future__ import annotations

import random

import pytest

N_PARTS = 4  # partition_expr = pmod(id, 4)


def _model_apply(model: dict, op: str, rows: list, parts: list | None) -> None:
    if op == "append":
        for rid, part, x in rows:
            model[rid] = (part, x)
    elif op == "overwrite":
        keep = {k: v for k, v in model.items() if v[0] not in set(parts)}
        model.clear()
        model.update(keep)
        for rid, part, x in rows:
            if part in set(parts):
                model[rid] = (part, x)
    elif op == "upsert":
        for rid, part, x in rows:
            model[rid] = (part, x)


@pytest.mark.parametrize("seed", [7, 2024])
def test_versioned_table_matches_dict_model(spark, tmp_path, seed):
    from go_vectorsearch_spark.api import _VersionedTable

    rng = random.Random(seed)
    t = _VersionedTable(
        spark,
        str(tmp_path / f"m{seed}"),
        "model",
        "id long, part long, x string",
        partition_expr="part",
    )
    model: dict[int, tuple[int, str]] = {}
    history: dict[int, dict] = {}  # actual version number -> model snapshot
    next_id = 0

    def fresh_rows(n: int, parts: list | None = None) -> list:
        nonlocal next_id
        out = []
        for _ in range(n):
            rid = rng.choice([next_id, rng.randrange(max(1, next_id + 1))])
            next_id = max(next_id, rid) + 1
            part = rng.choice(parts) if parts else rng.randrange(N_PARTS)
            out.append((rid, part, f"s{seed}-{rid}-{rng.randrange(1000)}"))
        # unique ids within one batch (the tables' key contract)
        seen, uniq = set(), []
        for r in out:
            if r[0] not in seen:
                seen.add(r[0])
                uniq.append(r)
        return uniq

    def df_of(rows):
        return spark.createDataFrame(rows, t.schema)

    for step in range(10):
        op = rng.choice(["append", "overwrite", "upsert", "compact"])
        if op == "append":
            rows = [
                r for r in fresh_rows(rng.randrange(1, 4)) if r[0] not in model
            ]
            if not rows:
                continue
            t.append(df_of(rows), keep_versions=50)
            _model_apply(model, "append", rows, None)
        elif op == "overwrite":
            parts = rng.sample(range(N_PARTS), rng.randrange(1, 3))
            rows = fresh_rows(rng.randrange(0, 4), parts)
            survivors = [
                (rid, p, x)
                for rid, (p, x) in model.items()
                if p in parts and rid not in {r[0] for r in rows}
            ] + [r for r in rows if r[1] in parts]
            t.overwrite_partitions(df_of(survivors), parts, keep_versions=50)
            _model_apply(model, "overwrite", survivors, parts)
        elif op == "upsert":
            rows = fresh_rows(rng.randrange(1, 4))
            t.upsert(df_of(rows), key="id", keep_versions=50)
            _model_apply(model, "upsert", rows, None)
        else:
            t.compact(min_dirs=2, keep_versions=50)
            # data unchanged
        got = {r["id"]: (r["part"], r["x"]) for r in t.read().collect()}
        assert got == model, f"step {step} op {op}: table diverged from model"
        if t._version() >= 0:
            history[t._version()] = dict(model)

    # time travel: every surviving version replays its recorded state
    versions = t.versions()
    assert versions, "no versions written"
    for v in versions:
        got = {r["id"]: (r["part"], r["x"]) for r in t.read(version=v).collect()}
        assert got == history[v], f"time travel to v{v} diverged"


def test_concurrent_writers_from_separate_instances_lose_nothing(spark, tmp_path):
    """Two _VersionedTable instances over the SAME directory (the
    two-service-replica deployment, where the in-process lock can't
    help) appending concurrently must both land: without the
    cross-process flock both read VERSION=v, both write _data/w{v+1}
    (the second's overwrite deleting the first's files), and the last
    manifest silently drops one writer's rows."""
    import threading as th

    from go_vectorsearch_spark.api import _VersionedTable

    mk = lambda: _VersionedTable(
        spark, str(tmp_path), "cc", "id long, part long, x string",
        partition_expr="part",
    )
    a, b = mk(), mk()  # separate instances ≈ separate processes' state
    errs: list[Exception] = []

    def writer(t, base):
        try:
            for i in range(4):
                t.append(
                    spark.createDataFrame(
                        [(base + i, (base + i) % 3, f"r{base + i}")], t.schema
                    )
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [th.Thread(target=writer, args=(a, 0)),
               th.Thread(target=writer, args=(b, 100))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    rows = {r["id"] for r in mk().read().collect()}
    assert rows == set(range(4)) | set(range(100, 104))  # nothing lost


def test_replace_partitions_moves_rows_in_one_commit(spark, tmp_path):
    """replace_partitions = drop named partitions + append rows to the
    partitions they route to, in ONE commit: no intermediate version
    ever shows the rows doubled or missing; receiving partitions keep
    their existing directories by reference and gain one; untouched
    partitions carry over verbatim; the previous snapshot still
    time-travels to the pre-move state."""
    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path / "t"), "t", "id long, part long, x string",
        partition_expr="part",
    )
    t.append(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 2, "d")], t.schema
        )
    )
    v0 = t._version()
    m0 = t._manifest(v0)

    # move partition 0's rows into partitions 1 and 3 (3 is brand new)
    moved = spark.createDataFrame([(1, 1, "a"), (2, 3, "b")], t.schema)
    t.replace_partitions(moved, [0])
    v1 = t._version()
    assert v1 == v0 + 1  # exactly one commit

    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, 1, "a"), (2, 3, "b"), (3, 1, "c"), (4, 2, "d")]
    m1 = t._manifest(v1)
    assert "0" not in m1                      # dropped
    assert m1["2"] == m0["2"]                 # untouched: dirs by reference
    assert m1["1"][: len(m0["1"])] == m0["1"] # receiver: old dirs + new
    assert len(m1["1"]) == len(m0["1"]) + 1
    assert "3" in m1                          # brand-new partition
    # previous snapshot still readable (time travel)
    old = sorted(tuple(r) for r in t.read(version=v0).collect())
    assert old == [(1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 2, "d")]


def test_orphan_batch_from_failed_write_is_reclaimed(spark, tmp_path):
    """A write that died after creating _data/w{N+1} but before the
    VERSION pointer moved must not wedge the table: the next mutation
    recomputes the same version and overwrites the orphan."""
    import os

    from go_vectorsearch_spark.api import _VersionedTable

    t = _VersionedTable(
        spark, str(tmp_path / "t"), "t", "id long, part long, x string",
        partition_expr="part",
    )
    t.append(spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], t.schema))
    v = t._version()
    # simulate the failed attempt: orphan batch dir for v+1, pointer at v
    orphan = os.path.join(t.dir, "_data", f"w{v + 1}")
    os.makedirs(os.path.join(orphan, "_p=9"), exist_ok=True)
    with open(os.path.join(orphan, "_p=9", "garbage.parquet"), "w") as f:
        f.write("not parquet")

    t.append(spark.createDataFrame([(3, 2, "c")], t.schema))
    assert t._version() == v + 1
    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]
    # the orphan's stale partition dir must not have leaked into the
    # committed manifest
    assert "9" not in t._manifest(v + 1)


def test_lock_free_readers_never_see_a_torn_commit(spark, tmp_path):
    """Readers take no lock, so every commit must publish its manifest
    and pointer atomically: a reader racing a writer resolves the old
    version or the new one, never an empty or half-written file. One
    thread commits in a loop (the engine table's manifest + VERSION,
    and the BM25 store's) while another resolves and reads both for
    about two seconds."""
    import sys
    import threading as th
    import time

    from go_vectorsearch_spark.api import _VersionedTable
    from go_vectorsearch_spark.operators.fulltext import (
        _store_commit,
        _store_manifest,
        _store_version,
    )

    t = _VersionedTable(spark, str(tmp_path), "race", "id long, x string")
    t.write(spark.createDataFrame([(1, "a")], t.schema))
    parts = t._manifest(t._version())
    store = tmp_path / "bm25"
    store.mkdir()
    _store_commit(str(store), 0, {"batches": []})
    stop = th.Event()
    errs: list[BaseException] = []
    counts = {"commits": 0, "reads": 0}

    def writer():
        try:
            i = 0
            while not stop.is_set():
                # two alternating versions over the same data directory:
                # nothing is ever vacuumed, so a reader failure can only
                # come from a torn file
                t._commit(1 + i % 2, parts, keep=10)
                _store_commit(str(store), 1 + i % 2, {"batches": []})
                i += 1
            counts["commits"] = i
        except Exception as e:  # pragma: no cover - reported below
            errs.append(e)

    def reader():
        try:
            i = 0
            while not stop.is_set():
                t._manifest(t._version())
                _store_manifest(str(store), _store_version(str(store)))
                if i % 25 == 0:
                    t.read()
                i += 1
            counts["reads"] = i
        except Exception as e:
            errs.append(e)

    threads = [th.Thread(target=writer), th.Thread(target=reader)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the two threads finely
    try:
        for x in threads:
            x.start()
        deadline = time.monotonic() + 2.0
        while time.monotonic() < deadline and not errs:
            time.sleep(0.05)
    finally:
        stop.set()
        for x in threads:
            x.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(x.is_alive() for x in threads)
    assert not errs, f"reader saw a torn commit: {errs[0]!r}"
    assert counts["commits"] > 10 and counts["reads"] > 10
    assert [tuple(r) for r in t.read().collect()] == [(1, "a")]
