"""Product-quantization ANN (scale extension beyond the reference).

The reference compresses vectors with PER-VECTOR 8-bit scalar
quantization (compute/quantization.go:71-102, 1 byte/dim + 8-byte
range header) and scans dequantized floats. Product quantization is
the standard next step at the 100 TB design point: split the dim-D
space into ``m`` contiguous subspaces, k-means each subspace into
``k_sub`` codewords, store each vector as ``m`` one-byte codes
(D*4 bytes -> m bytes, e.g. 64-dim f32 = 256 B -> 8 B at m=8), and
score a query against codes via a per-query lookup table without ever
reconstructing the vectors (asymmetric distance computation). Public
basis: Jegou, Douze & Schmid, "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI 33(1), 2011.

Spark-first layout:
  * training is driver-side numpy over the same deterministic sample
    the IVF build uses (the codebook is m x k_sub x d_sub - KBs);
  * encoding is one narrow ``mapInPandas`` pass (per Arrow batch, one
    argmin-GEMM per subspace) writing ``array<smallint>`` codes - a
    stored column, computed once per corpus like the IVF assignment;
  * search scores codes with a CODEGEN'D expression: the query's
    (m x k_sub) lookup table folds into the plan as an array literal
    and the score is ``sum_j lut[j][code_j]`` via ``F.aggregate`` -
    the corpus scan never leaves the JVM, no shuffle, and top-k is a
    TakeOrderedAndProject exactly like brute force. A numpy scoring
    twin exists for large LUTs (``method="numpy"``); the two are
    pytest-asserted to agree.
  * optional exact re-rank: ADC takes top ``rerank`` candidates, the
    true vectors of those rows only are re-scored with exact cosine -
    the standard two-stage shape (ADC recall, exact precision).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_vectorsearch_spark.operators.search import query_vec_lit
from go_vectorsearch_spark.plans.ivf import _numpy_lloyd, deterministic_sample

# expression-path ceiling: the LUT folds into codegen as m*k_sub float
# literals; beyond ~4k literals compile time outweighs the JVM-side win
EXPR_LUT_LIMIT = 4096


@dataclass(frozen=True)
class PQCodebooks:
    """m sub-codebooks; ``mats[j]`` is (k_sub x d_sub) float64."""

    mats: tuple  # tuple[np.ndarray, ...]
    dim: int

    @property
    def m(self) -> int:
        return len(self.mats)

    @property
    def splits(self) -> list[tuple[int, int]]:
        """[start, end) dim ranges per subspace (contiguous split)."""
        return _splits(self.dim, self.m)


def _splits(dim: int, m: int) -> list[tuple[int, int]]:
    d_sub, rem = divmod(dim, m)
    out, s = [], 0
    for j in range(m):
        e = s + d_sub + (1 if j < rem else 0)
        out.append((s, e))
        s = e
    return out


def train_pq(
    df: DataFrame,
    m: int = 8,
    k_sub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 50_000,
) -> PQCodebooks:
    """Fit m sub-codebooks on the deterministic sample (driver numpy,
    same rationale as the IVF k-means fit: a sample fit is a
    milliseconds-scale GEMM loop on the driver, while the ENCODE of all
    N rows is the distributed pass). Codebooks are L2-k-means (not
    cosine): PQ approximates the vector itself, so scoring can target
    dot products of un-normalized vectors."""
    rows = deterministic_sample(df, sample_size, id_col).select(vec_col).collect()
    if not rows:
        raise ValueError("train_pq: empty corpus")
    X = np.array([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if m > dim:
        raise ValueError(f"train_pq: m={m} > dim={dim}")
    splits = _splits(dim, m)
    mats = []
    for s, e in splits:
        sub = X[:, s:e]
        k = min(k_sub, len(sub))
        # euclidean Lloyd: _numpy_lloyd is cosine-metric (built for the
        # IVF fit), so run a plain L2 loop here - same superset init
        # and first-min tie-break, no quantize (codebooks stay f64)
        mats.append(_l2_lloyd(sub, k, max_iters=20, init_oversample=5))
    return PQCodebooks(mats=tuple(mats), dim=dim)


def _l2_lloyd(X: np.ndarray, k: int, max_iters: int, init_oversample: int) -> np.ndarray:
    """Euclidean Lloyd with the same deterministic shape as
    ``_numpy_lloyd``: first-k0 superset init, keep k largest clusters,
    mean update, early exit on exact convergence."""
    n = len(X)
    k = max(1, min(k, n))
    k0 = min(n, k * init_oversample)
    mat = X[:k0].astype(np.float64)

    def _assign(mat_: np.ndarray) -> np.ndarray:
        # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 ; argmin over c
        d = -2.0 * (X @ mat_.T) + (mat_ * mat_).sum(axis=1)
        return d.argmin(axis=1)

    if k0 > k:
        arg = _assign(mat)
        counts = np.bincount(arg, minlength=k0)
        by_size = sorted(zip(range(k0), counts), key=lambda t: (-t[1], t[0]))[:k]
        mat = mat[[c for c, _ in by_size]]

    prev = None
    for _ in range(max_iters):
        arg = _assign(mat)
        new_mat = mat.copy()
        for c in range(len(mat)):
            members = X[arg == c]
            if len(members):
                new_mat[c] = members.sum(axis=0) / len(members)
        if prev is not None and np.array_equal(new_mat, prev):
            return new_mat
        prev = new_mat
        mat = new_mat
    return mat


def encode_pq(
    df: DataFrame,
    codebooks: PQCodebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Append ``array<smallint>`` PQ codes: per Arrow batch, one
    argmin-GEMM per subspace against the closure-broadcast codebooks.
    Narrow (no shuffle); at scale this is the write-once pass that
    materializes the codes column next to the vectors, exactly like
    the IVF assignment column."""
    splits = codebooks.splits
    mats = [m.astype(np.float64) for m in codebooks.mats]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.ShortType()))]
    )
    in_cols = [f.name for f in df.schema.fields]

    def enc(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), len(mats)), dtype=np.int16)
            for j, ((s, e), C) in enumerate(zip(splits, mats)):
                sub = X[:, s:e]
                d = -2.0 * (sub @ C.T) + (C * C).sum(axis=1)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            res = pdf[in_cols].copy()
            res[out_col] = list(codes)
            yield res

    return df.mapInPandas(enc, schema=out_schema)


def query_lut(codebooks: PQCodebooks, qvec) -> np.ndarray:
    """(m x k_sub) inner-product table: lut[j][c] = <q_sub_j, C_j[c]>.
    ADC score of a row = sum_j lut[j][code_j] ~= <q, x>."""
    q = np.asarray(qvec, dtype=np.float64)
    if len(q) != codebooks.dim:
        raise ValueError("query_lut: query dim mismatch")
    return [
        C @ q[s:e]
        for (s, e), C in zip(codebooks.splits, codebooks.mats)
    ]


def adc_score_expr(codes_col: Column, lut: list) -> Column:
    """Codegen'd ADC score: the LUT folds into the plan as nested array
    literals, score = sum over positions of lut[j][code_j]. Pure JVM
    column math - the codes scan stays inside whole-stage codegen."""
    # one nested array Literal, not CreateArray-of-CreateArrays: the
    # unrolled form re-evaluated m x k_sub literal children per row
    lut_lit = F.lit([[float(v) for v in row] for row in lut])
    # zip codes with their subspace index via transform's index arg
    return F.aggregate(
        F.zip_with(
            lut_lit,
            codes_col,
            lambda row, c: F.element_at(row, c.cast("int") + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_search(
    coded: DataFrame,
    codebooks: PQCodebooks,
    qvec,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
    rerank: int | str | None = None,
    method: str = "auto",
) -> DataFrame:
    """ADC top-k over the codes column; with ``rerank=R`` the top-R ADC
    candidates are re-scored with exact cosine against their true
    vectors (two-stage search). ``rerank="all"`` re-scores EVERY
    candidate row — the zero-loss exactness limit — without the
    shortlist sort (top-ALL needs no order) and without the caller
    having to count the corpus first; the ADC scoring pass is SKIPPED
    outright in that mode (its order cannot affect a full re-rank —
    Catalyst would prune the expr form anyway, but the numpy form is a
    mapInPandas corpus pass no optimizer can remove; ADC approximation
    quality is pinned separately by the recall tests and the
    expr-vs-numpy equality test). Returns (id, score) ordered desc with
    id tie-break; ``score`` is the ADC inner product, or exact cosine
    when re-ranking."""
    if isinstance(rerank, str) and rerank != "all":
        raise ValueError(f"pq_search: rerank must be an int, None or 'all', got {rerank!r}")
    if rerank == "all":
        return _exact_rerank(
            coded.select(id_col, vec_col), qvec, k, id_col, vec_col
        )
    lut = query_lut(codebooks, qvec)
    n_lit = sum(len(r) for r in lut)
    if method == "auto":
        method = "expr" if n_lit <= EXPR_LUT_LIMIT else "numpy"
    if method == "expr":
        scored = coded.withColumn("_adc", adc_score_expr(F.col(codes_col), lut))
    else:
        scored = _adc_score_numpy(coded, lut, codes_col)

    cand_k = max(k, rerank or 0)
    # vec_col rides the top-k ONLY when a re-rank will read it: a pure
    # ADC search must work on a codes-only frame (the layout the module
    # header promises — vectors never reconstructed) and must not haul
    # cand_k full float vectors through the TakeOrdered just to drop
    # them
    cand_cols = (
        [id_col, vec_col, "_adc"] if rerank is not None else [id_col, "_adc"]
    )
    cands = (
        scored.select(*cand_cols)
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(cand_k)
    )
    if rerank is None:
        return cands.select(id_col, F.col("_adc").alias("score"))
    return _exact_rerank(cands, qvec, k, id_col, vec_col)


def _exact_rerank(
    cands: DataFrame, qvec, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact cosine re-rank of a candidate frame (the two-stage search's
    precision stage; also the whole plan at ``rerank='all'``)."""
    from go_vectorsearch_spark.functions.vector import dot, l2_normalize

    q = np.asarray(qvec, dtype=np.float64)
    qn = np.linalg.norm(q)
    qlit = query_vec_lit(q / qn if qn > 0 else q)
    return (
        cands.withColumn("score", dot(l2_normalize(F.col(vec_col)), qlit))
        # the registry's every-LIMIT-total-order convention
        # (brute_force_topk): rank by round-6 with id tie-break, so the
        # re-ranked result is reproducible and comparable across engines
        # whose float summation orders differ below 1e-6
        .orderBy(F.desc(F.round("score", 6)), F.asc(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def pq_candidate_frame(
    coded: DataFrame,
    codebooks: PQCodebooks,
    qvec,
    cand_k: int,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """ADC top-``cand_k`` candidates carrying BOTH ranking keys — the
    ADC inner product (``_adc``) and the exact-cosine round-6 rerank
    key (``_exact_r6``, the same ``round(dot(l2_normalize(vec), q̂), 6)``
    expression :func:`_exact_rerank` orders by) — in ONE corpus pass.

    A rerank-depth sweep (``pq_search`` at rerank None/R1/R2 ≤ cand_k)
    otherwise re-scans and re-scores the whole coded store once per
    depth; every depth's result is a deterministic function of this
    frame (the ADC order is total — id tie-break — so each depth's
    candidate set is a prefix, and the rerank key is engine-computed
    here, not recomputed downstream). Rows come back in ADC order
    (desc, id asc).

    Two stages (r13 advice): the corpus-wide TakeOrdered ranks on
    ``_adc`` over (id, codes) ONLY — the narrow columns PQ's bandwidth
    story depends on — and the exact-cosine key is computed afterwards
    for just the cand_k survivors (a broadcast of the tiny candidate
    set back onto the store). Computing ``_exact_r6`` below the
    TakeOrdered would read the full embedding column and pay a
    full-width dot for EVERY corpus row, costing more at scale than
    the per-depth narrow scans the one-pass frame replaces."""
    from go_vectorsearch_spark.functions.vector import dot, l2_normalize

    lut = query_lut(codebooks, qvec)
    n_lit = sum(len(r) for r in lut)
    if method == "auto":
        method = "expr" if n_lit <= EXPR_LUT_LIMIT else "numpy"
    if method == "expr":
        scored = coded.withColumn("_adc", adc_score_expr(F.col(codes_col), lut))
    else:
        scored = _adc_score_numpy(coded, lut, codes_col)
    cands = (
        scored.select(id_col, "_adc")
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(cand_k)
    )
    q = np.asarray(qvec, dtype=np.float64)
    qn = np.linalg.norm(q)
    qlit = query_vec_lit(q / qn if qn > 0 else q)
    # id is unique, so the inner join keeps exactly the cand_k survivors;
    # the exact dot runs on those rows alone and the final TakeOrdered
    # re-establishes ADC order over cand_k rows (driver-cheap)
    return (
        coded.select(id_col, vec_col)
        .join(F.broadcast(cands), id_col)
        .select(
            id_col,
            "_adc",
            F.round(dot(l2_normalize(F.col(vec_col)), qlit), 6).alias("_exact_r6"),
        )
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(cand_k)
    )


def _adc_score_numpy(coded: DataFrame, lut: list, codes_col: str) -> DataFrame:
    """Arrow-batch ADC twin for LUTs too large to fold into codegen:
    per batch, numpy fancy-indexing gather + row sum."""
    L = np.vstack([np.asarray(r, dtype=np.float64) for r in lut])
    out_schema = T.StructType(
        list(coded.schema.fields) + [T.StructField("_adc", T.DoubleType())]
    )
    in_cols = [f.name for f in coded.schema.fields]
    m = len(lut)

    def score(batches: Iterator) -> Iterator:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf[codes_col].to_numpy()).astype(np.int64)
            res = pdf[in_cols].copy()
            res["_adc"] = L[np.arange(m), codes].sum(axis=1)
            yield res

    return coded.mapInPandas(score, schema=out_schema)


def ivfpq_search(
    index,
    coded: DataFrame,
    codebooks: PQCodebooks,
    qvec,
    k: int = 10,
    nprobe: int | str = 1,
    rerank: int | str | None = None,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: probe-pruned ADC search — the canonical two-level ANN
    architecture (FAISS's IndexIVFPQ; Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"), composed from the
    engine's existing levels:

      1. coarse: rank the IVF index's centroids driver-side, keep the
         top ``nprobe`` (plans/ivf.nearest_centroids — the reference's
         probe step, server/search.go:202-227);
      2. fine: ADC-scan ONLY rows assigned to probed lists (16 B/vector
         codes, LUT folded into codegen), instead of the whole corpus;
      3. optional exact cosine re-rank of the top-R (two-stage search).

    Scale: work = Σ probed-list sizes × m byte lookups; with the codes
    column stored in the partitionBy(centroid_id) layout
    (plans/ivf.write_partitioned) the probe filter is partition
    pruning, so scan + compute + memory all shrink by nprobe/k_lists —
    the 100 TB shape where neither brute ADC (full scan) nor IVF-Flat
    (full vectors in probed lists) fits the latency/footprint budget.

    ``coded`` must carry (id, codes, vectors) for the SAME corpus the
    index assigned. When it ALSO carries ``centroid_id`` (the
    write-time layout: codes encoded after assignment and stored in the
    partitionBy(centroid_id) store), the probe filter applies to the
    codes scan DIRECTLY — partition pruning, no join, the I/O-shrink
    the architecture exists for. Without the column the probe falls
    back to a semi-join against the assignment's probed ids, which
    prunes COMPUTE but still scans the full codes frame — fine for an
    ad-hoc frame, wrong as the stored layout at scale.
    """
    from go_vectorsearch_spark.plans.ivf import nearest_centroids

    if isinstance(nprobe, str) and nprobe != "all":
        raise ValueError(
            f"ivfpq_search: nprobe must be an int or 'all', got {nprobe!r}"
        )
    if nprobe == "all":
        # exactness limit: probing every list is the identity filter —
        # skip it entirely rather than materializing EVERY centroid id
        # into an isin literal (at the 10^6-centroid design point that
        # literal is the driver-side id smell this engine forbids
        # elsewhere) or paying a centroid count job to size nprobe
        cand = coded
    else:
        probe_ids = nearest_centroids(index.centroids, qvec, nprobe)
        probe_set = [int(c) for c in probe_ids]
        if "centroid_id" in coded.columns:
            cand = coded.filter(F.col("centroid_id").isin(probe_set))
        else:
            probed = index.assigned.filter(
                F.col("centroid_id").isin(probe_set)
            ).select(id_col)
            cand = coded.join(probed, id_col, "left_semi")
    return pq_search(
        cand,
        codebooks,
        qvec,
        k=k,
        id_col=id_col,
        codes_col=codes_col,
        vec_col=vec_col,
        rerank=rerank,
    )
