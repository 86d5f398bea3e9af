"""Reference answers the benchmark checks the engine's outputs against.

* Served search pages: an exact top-k in numpy over the vectors the
  store holds (quantized codes dequantized the way the store defines
  them), read straight from the store's current manifest with pyarrow
  — no Spark, no engine code.
* Registry entries: the DuckDB oracle SQL over the same generated
  parquet, compared with the repository's parity canonicalisation.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq

SCORE_TOL = 1e-5


def read_store_table(root: str, name: str):
    """Current snapshot of one engine table as a pyarrow Table (None
    when the table has no version yet)."""
    tdir = os.path.join(root, name)
    ptr = os.path.join(tdir, "VERSION")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        v = int(f.read().strip())
    with open(os.path.join(tdir, f"v{v}")) as f:
        parts = json.load(f)["parts"]
    files = [
        p
        for dirs in parts.values()
        for d in dirs
        for p in sorted(glob.glob(os.path.join(tdir, d, "**", "*.parquet"), recursive=True))
    ]
    if not files:
        return None
    import pyarrow as pa

    tables = [pq.read_table(p, partitioning=None) for p in files]
    schema = pa.schema([f.with_nullable(True) for f in tables[0].schema])
    return pa.concat_tables(t.cast(schema) for t in tables)


def quantize_roundtrip(vec: np.ndarray) -> np.ndarray:
    """Per-vector u8 quantization with a 0-anchored float32 range, then
    dequantization — what a vector looks like after the store's codec."""
    m = vec.astype(np.float32)
    lo = np.float32(min(float(m.min()), 0.0))
    hi = np.float32(max(float(m.max()), 0.0))
    span = np.float32(hi - lo)
    if span == 0:
        return np.full_like(m, lo)
    scaled = ((np.clip(m, lo, hi) - lo).astype(np.float32) / span).astype(np.float32) * np.float32(255.0)
    codes = np.trunc(scaled.astype(np.float64)).astype(np.float32)
    return (lo + codes / np.float32(255.0) * span).astype(np.float32)


class ExactIndex:
    """All stored chunk vectors of the store, dequantized."""

    def __init__(self, root: str):
        emb = read_store_table(root, "embeddings")
        docs = read_store_table(root, "documents")
        self.doc_names: dict[int, str] = {}
        if docs is not None:
            for i, n in zip(docs.column("document_id").to_pylist(), docs.column("name").to_pylist()):
                self.doc_names[int(i)] = n
        if emb is None:
            self.doc = np.zeros(0, np.int64)
            self.mat = np.zeros((0, 1), np.float32)
            self.lists = {}
            return
        self.doc = np.asarray(emb.column("document_id").to_numpy(), np.int64)
        codes = np.asarray(emb.column("codes").to_pylist(), np.float32)
        lo = np.asarray(emb.column("lo").to_numpy(), np.float32)[:, None]
        hi = np.asarray(emb.column("hi").to_numpy(), np.float32)[:, None]
        self.mat = (lo + codes / np.float32(255.0) * (hi - lo)).astype(np.float32)
        cent = emb.column("centroid_id").to_numpy()
        ids, counts = np.unique(cent, return_counts=True)
        self.lists = dict(zip(ids.tolist(), counts.tolist()))

    def ranking(self, qvec: np.ndarray) -> list[tuple[int, float]]:
        """Every document's (document_id, best-chunk cosine), ordered by
        (round(score, 6) desc, id asc) like the engine's pages."""
        if len(self.doc) == 0:
            return []
        q = qvec.astype(np.float64)
        m = self.mat.astype(np.float64)
        denom = np.linalg.norm(m, axis=1) * np.linalg.norm(q)
        scores = np.where(denom > 0, m @ q / np.where(denom > 0, denom, 1.0), 0.0)
        best: dict[int, float] = {}
        for d, s in zip(self.doc.tolist(), scores.tolist()):
            if d not in best or s > best[d]:
                best[d] = s
        return sorted(best.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))


def page_mismatch(served: list[tuple[int, float]], exact: list[tuple[int, float]],
                  exact_scores: dict[int, float]) -> str | None:
    """Why a served page is not the exact page (None when it is). Rows
    may swap only among scores equal within SCORE_TOL."""
    if len(served) != len(exact):
        return f"page size {len(served)} != exact {len(exact)}"
    for (sid, ss), (_eid, es) in zip(served, exact):
        if abs(ss - es) > SCORE_TOL:
            return f"score {ss:.6f} at rank where exact has {es:.6f}"
        if sid not in exact_scores or abs(exact_scores[sid] - ss) > SCORE_TOL:
            return f"document {sid} served with score {ss:.6f} not its exact score"
    if len({sid for sid, _ in served}) != len(served):
        return "duplicate documents in page"
    return None


# -- registry parity ---------------------------------------------------------------
def duckdb_oracle(sf_dir: str, sql: str):
    """(columns, rows) of an oracle statement over the generated tables."""
    from tests.parity import duckdb_conn

    con = duckdb_conn(sf_dir)
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]
    finally:
        con.close()


def parity_mismatch(pdf, oracle: tuple[list[str], list[tuple]]) -> str | None:
    """Compare a materialised registry result (pandas) with its oracle
    the way the repository's parity gate does: column names, row count,
    then the canonicalised multiset of rows."""
    from tests.parity import _canon_driver, _cells_equal

    d_cols, d_rows = oracle
    s_cols = list(pdf.columns)
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    s_rows = [
        tuple(None if _is_missing(v) else (v.item() if hasattr(v, "item") else v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != oracle {len(d_rows)}"
    sn, dn = _canon_driver(s_cols, s_rows), _canon_driver(d_cols, d_rows)
    bad = sum(1 for a, b in zip(sn, dn) if not all(_cells_equal(x, y) for x, y in zip(a, b)))
    return f"{bad} rows differ" if bad else None


def _is_missing(v) -> bool:
    try:
        import pandas as pd

        return v is pd.NaT or (not isinstance(v, (list, tuple, np.ndarray)) and pd.isna(v))
    except (TypeError, ValueError):
        return False
