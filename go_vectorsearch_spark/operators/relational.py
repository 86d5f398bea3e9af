"""Relational operators (SURVEY.md §2.1-2.6) as reusable DataFrame shapes.

The reference hand-writes these as GORM calls; here each is the
declarative Spark form Catalyst can optimize (predicate pushdown,
column pruning, broadcast selection are free - SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def point_lookup(df: DataFrame, col: str, value) -> DataFrame:
    """S3: single-row lookup by key (reference: server/search.go:149-168).

    Catalyst pushes the equality predicate into the parquet scan and the
    LIMIT short-circuits - at scale this reads only the row groups whose
    min/max stats admit the key.
    """
    return df.filter(F.col(col) == F.lit(value)).limit(1)


def lookup_by_keys(df: DataFrame, col: str, keys: Sequence) -> DataFrame:
    """S4/F2: fetch rows for a key list (reference: server/search.go:291).

    An IN-list filter compiles to parquet row-group pruning; for huge key
    sets prefer a broadcast semi-join (``semi_join_keys``).
    """
    return df.filter(F.col(col).isin(list(keys)))


def semi_join_keys(df: DataFrame, keys_df: DataFrame, on: str) -> DataFrame:
    """S4 at scale: left-semi join against a (broadcastable) key set."""
    return df.join(F.broadcast(keys_df), on, "left_semi")


def dedup_best_by_key(
    df: DataFrame, key: str, order_col: str, extra_cols: Sequence[str] = ()
) -> DataFrame:
    """D1: keep the best row per key (reference: server/search.go:259-268
    keeps the first = highest-scored occurrence of each document).

    groupBy + max is the shuffle-light form (map-side partial agg);
    use it when only (key, best-value) is needed.
    """
    return df.groupBy(key, *extra_cols).agg(F.max(order_col).alias(order_col))


def paginate(df: DataFrame, order_cols: Sequence, count: int, offset: int) -> DataFrame:
    """T3: offset/limit pagination with a total order.

    Semantics identical to the reference's in-memory slice
    (server/search.go:312-331). Native ``offset``/``limit`` over the
    sorted frame compiles to a distributed partial top-(offset+count)
    per partition + single merge (TakeOrdered-style) — no global-window
    single-partition shuffle, so the plan stays scale-safe even when a
    caller forgets to pre-limit. ``order_cols`` MUST be a total order
    (tie-broken, as every caller's is): rows equal under a partial
    order could otherwise migrate across page boundaries between runs.
    """
    return df.orderBy(*order_cols).offset(offset).limit(count)


def cascade_delete_survivors(
    root_victims: DataFrame,
    child: DataFrame,
    fk: str,
    parent_key: str,
    parent_key_unique: bool = False,
) -> DataFrame:
    """S8: cascade delete re-expressed as an anti-join (SURVEY.md §1.4).

    The reference relies on SQL ``ON DELETE CASCADE``
    (database/model.go:32,45,57-58,66; server/delete.go:214-288); in a
    columnar store deletion is a rewrite, so "delete parents P" becomes
    "child survivors = child ANTI JOIN P on fk". Chain per level for
    grandchildren. No broadcast hint: the victim set is unbounded (a
    whole region's customers here), so Catalyst/AQE picks broadcast
    only when the side is actually under threshold — a forced hint is
    the OOM-at-scale anti-pattern.

    ``parent_key_unique=True`` skips the dedup exchange: an anti-join's
    result is unaffected by duplicate keys on its right side, so the
    ``distinct`` exists only to shrink a victim set whose keys repeat
    (fan-out victim derivations). When the caller knows ``parent_key``
    is a primary key, the distinct is a pure extra shuffle of data that
    is already unique (guide-§2.4's textbook accidental exchange).
    """
    victims = root_victims.select(F.col(parent_key).alias(fk))
    if not parent_key_unique:
        victims = victims.distinct()
    return child.join(victims, fk, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    right_cols: Sequence[str] = (),
    tie_col: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    right.ts <= left.ts, per ``on`` key. Spark has no native ASOF; the
    naive range-join explodes, so this is the canonical distributed
    shape: UNION both sides tagged, then one running ``last_value``
    window per key — exactly ONE shuffle on (key), zero row
    amplification, at any scale.

    Ties (equal timestamps) resolve right-row-first, i.e. "at or
    before" is inclusive. ``right_cols`` are carried from the matched
    right row (null when no match yet). ``tie_col`` (unique) makes the
    window order total for determinism; when the right table has the
    same column, its value is carried into the tie slot so right-right
    ties at equal (key, ts) are also totally ordered (otherwise the
    matched asof_* values would be nondeterministic among them).
    """
    lcols = left.columns
    carried = {on, ts_col}
    if tie_col is not None and tie_col in right.columns:
        carried.add(tie_col)
    tagged_l = left.select(
        *lcols,
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in right_cols],
        F.lit(0).alias("_is_r"),
    )
    # a null-ts right row is "at or before" nothing: it must never match
    # (nulls-first ordering would otherwise put it ahead of every left
    # row of its key)
    tagged_r = right.filter(F.col(ts_col).isNotNull()).select(
        *[
            (F.col(c) if c in carried else F.lit(None).cast(t)).alias(c)
            for c, t in left.dtypes
        ],
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        F.lit(1).alias("_is_r"),
    )
    unioned = tagged_l.unionByName(tagged_r)
    return _asof_window(unioned, lcols, on, ts_col, right_cols, tie_col)


def _asof_window(
    unioned: DataFrame,
    lcols: Sequence[str],
    on: str,
    ts_col: str,
    right_cols: Sequence[str],
    tie_col: str | None,
) -> DataFrame:
    """Shared core of the as-of shapes: running last-right-row window
    over a tagged union frame (left cols + ``_r_*`` + ``_is_r``)."""
    order = [F.col(ts_col).asc(), F.col("_is_r").desc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc_nulls_first())
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the whole right row as ONE struct so a null right column
    # can't make last(ignorenulls) skip to an older right row
    rstruct = F.when(
        F.col("_is_r") == 1,
        F.struct(F.col(ts_col).alias("_ts"), *[F.col(f"_r_{c}").alias(c) for c in right_cols]),
    )
    last_r = F.last(rstruct, ignorenulls=True).over(w)
    return (
        unioned.select(*lcols, "_is_r", last_r.alias("_last_r"))
        .filter(F.col("_is_r") == 0)
        .select(
            *lcols,
            F.col("_last_r._ts").alias(f"asof_{ts_col}"),
            *[F.col(f"_last_r.{c}").alias(f"asof_{c}") for c in right_cols],
        )
    )


def asof_join_same_source(
    df: DataFrame,
    left_pred,
    right_pred,
    on: str,
    ts_col: str = "ts",
    left_cols: Sequence[str] = (),
    right_cols: Sequence[str] = (),
    tie_col: str | None = None,
) -> DataFrame:
    """As-of join where BOTH sides are predicates over ONE table — the
    common event-stream case (purchase vs signup rows of the same log).
    Semantics are identical to ``asof_join(df.filter(left_pred),
    df.filter(right_pred), ...)`` but the plan reads the source ONCE,
    tagging rows instead of unioning two filtered scans: at 100 TB that
    is one pass over the log instead of two. ``left_pred``/``right_pred``
    must be disjoint (a row is one side or the other). ``tie_col`` (a
    unique shared column, e.g. the event id) totally orders the window;
    unlike the two-frame form no carry is needed because both sides
    already hold the column. Ties at equal (key, ts) resolve
    right-row-first.
    """
    left_cols = list(left_cols) or [c for c in df.columns]
    is_r = F.when(right_pred, F.lit(1)).otherwise(F.lit(0))
    # a null-ts right row is "at or before" nothing: drop it at the scan
    tagged = df.filter(
        left_pred | (right_pred & F.col(ts_col).isNotNull())
    ).select(
        *[F.col(c) for c in left_cols],
        *[
            F.when(right_pred, F.col(c)).alias(f"_r_{c}")
            for c in right_cols
        ],
        is_r.alias("_is_r"),
    )
    return _asof_window(tagged, left_cols, on, ts_col, right_cols, tie_col)


def range_join_point(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 7 * 86400,
) -> DataFrame:
    """Point-in-interval range join (custom operator Spark lacks):
    left rows whose ``point_col`` falls in [start_col, end_col] of a
    right row. A raw ``l.ts BETWEEN r.start AND r.end`` join has no
    equi-key, so Spark plans a BroadcastNestedLoop/cartesian product —
    O(|L|·|R|) compares, dead at scale. The standard distributed shape
    instead manufactures an equi-key: bucket each point into
    floor(epoch/bucket), explode each interval into every bucket it
    overlaps (``F.sequence``), hash-join on the bucket int, then
    re-apply the exact range predicate to the survivors.

    Cost: one equi-shuffle per side; interval fan-out =
    ceil(len/bucket)+1 replicas — pick ``bucket_seconds`` near the
    typical interval length so fan-out stays O(1). Each (point,
    interval) pair meets in EXACTLY one bucket (the point's), so no
    post-join dedup is needed. Inner join only; intervals with
    end < start produce nothing (empty sequence would error: guarded).

    Both time columns may be TIMESTAMP or DATE; comparison happens on
    the original values, bucketing on epoch seconds.
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    bkt = lambda c: F.floor(  # noqa: E731
        F.col(c).cast("timestamp").cast("double") / F.lit(float(bucket_seconds))
    )
    left_b = left.withColumn("_rjb", bkt(point_col))
    right_b = (
        right.filter(F.col(start_col) <= F.col(end_col))
        .withColumn("_rjb", F.explode(F.sequence(bkt(start_col), bkt(end_col))))
    )
    return (
        left_b.join(right_b, "_rjb")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_rjb")
    )


def hash_sample(df: DataFrame, key_col: str, hex_prefix: str = "0") -> DataFrame:
    """C1/D2 analog: deterministic, engine-portable pseudo-sample.

    The reference samples with a wall-clock-seeded Fisher-Yates
    (dnc/sampling.go:81-96) - irreproducible by design. For a
    cross-engine-checkable sample we hash the key (md5) and keep rows
    whose hex prefix matches: a stable ~1/16-per-hex-char Bernoulli
    sample that any SQL engine reproduces bit-for-bit, and that
    needs no shuffle or coordination at any scale.
    """
    hex_prefix = hex_prefix.lower()
    if not hex_prefix or any(c not in "0123456789abcdef" for c in hex_prefix):
        # md5 emits lowercase hex; an invalid prefix would silently
        # return an empty "sample"
        raise ValueError(f"hex_prefix must be non-empty hex, got {hex_prefix!r}")
    return df.filter(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, len(hex_prefix))
        == hex_prefix
    )
