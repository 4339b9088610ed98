"""Seeded inputs: clustered unit-norm vectors with a ``tag`` key, and the
numpy ground truth the answers are checked against.

The same seed always gives the same arrays; the program under test
only ever sees what these functions return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DIM = 64


class VectorSource:
    """Unit-norm f32 vectors drawn around fixed cluster centres.  Table
    rows, queries and later appends all come from one source, so they
    share the clustering.  ``tag`` is ``"1"`` on about 10 % of rows."""

    def __init__(self, seed: int, n_clusters: int = 64, spread: float = 0.6) -> None:
        self.rng = np.random.default_rng(seed)
        self.centres = self.rng.normal(size=(n_clusters, DIM))
        self.spread = spread

    def draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, len(self.centres), n)
        x = self.centres[lab] + self.spread * self.rng.normal(size=(n, DIM))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return x.astype(np.float32)

    def tags(self, n: int) -> np.ndarray:
        return self.rng.integers(0, 10, n)


def rows_frame(spark, vecs: np.ndarray, tags: np.ndarray, rid0: int):
    """Spark DataFrame ``(vec, rid, tag)`` for ``VecDB.batch_add_df``."""
    pdf = pd.DataFrame({
        "vec": list(vecs),
        "rid": np.arange(rid0, rid0 + len(vecs), dtype=np.int64),
        "tag": tags.astype(np.int64),
    })
    return spark.createDataFrame(pdf, "vec array<float>, rid long, tag long")


def load_table(ctx, db, key: str, frame, n: int) -> tuple[float, float]:
    """Create ``key`` and bulk-load ``frame`` through ``VecDB.batch_add_df``;
    returns the seconds of both calls and of the load alone."""
    with ctx.trace.span("setup.load") as s_all:
        db.create_table_if_not_exists(key, DIM, "l2sqr")
        with ctx.trace.span("vecdb.batch_add_df") as s:
            got = db.batch_add_df(key, frame, vec_col="vec", meta_cols=("rid", "tag"))
    ctx.ledger.record(got == n and db.get_len(key) == n, "load: row count")
    return s_all["s"], s["s"]


def metadata(rid0: int, tags: np.ndarray) -> list[dict[str, str]]:
    return [{"rid": str(rid0 + i), "tag": str(int(t))} for i, t in enumerate(tags)]


def exact_topk(base: np.ndarray, queries: np.ndarray, k: int,
               mask: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Exact l2sqr top-k by (distance, row) in float64: ``(rows, dists)``,
    each (|queries| × k).  ``mask`` limits the candidates."""
    b = base.astype(np.float64)
    b2 = (b * b).sum(1)
    rows, dists = [], []
    for i in range(0, len(queries), 256):  # bounds the distance block's memory
        q = queries[i:i + 256].astype(np.float64)
        d = (q * q).sum(1)[:, None] + b2[None, :] - 2.0 * (q @ b.T)
        if mask is not None:
            d[:, ~mask] = np.inf
        part = np.argpartition(d, k, axis=1)[:, : k + 8]
        order = np.lexsort((part, np.take_along_axis(d, part, 1)), axis=1)[:, :k]
        r = np.take_along_axis(part, order, 1)
        rows.append(r)
        dists.append(np.take_along_axis(d, r, 1))
    return np.concatenate(rows), np.concatenate(dists)


def l2sqr_rows(base: np.ndarray, q: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """Exact distance from each query to each of its listed rows."""
    diff = base[rows].astype(np.float64) - q.astype(np.float64)[:, None, :]
    return (diff * diff).sum(-1)


def point_answer(base: np.ndarray, q: np.ndarray, hits, k: int) -> np.ndarray | None:
    """The rows of a ``VecDB.search`` answer, or None unless it is ``k`` hits
    in ascending distance whose ``rid`` are rows of ``base`` at their true
    distance to ``q``."""
    rows = np.asarray([int(m["rid"]) for m, _ in hits], dtype=np.int64)
    d = np.asarray([dd for _, dd in hits], dtype=np.float64)
    if len(hits) != k or np.any(np.diff(d) < 0) or np.any((rows < 0) | (rows >= len(base))):
        return None
    if np.any(np.abs(l2sqr_rows(base, q[None, :], rows[None, :])[0] - d) > 1e-3):
        return None
    return rows
