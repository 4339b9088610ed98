"""The benchmark's side of the table under test: the rows it committed,
their ground truth, and the point searches every phase makes."""

from __future__ import annotations

import time

import numpy as np

import data

K = 10
KEY = "t"
#: searches per point-latency block
BLOCK = 800
#: beam width of the point searches that take the knn_pq path
EF_PQ_POINT = 80


class State:
    """What the phases share: the table, the benchmark's copy of every
    committed row (in ``rid`` order) and the point-search samples."""

    def __init__(self, db, src: data.VectorSource, X: np.ndarray, tags: np.ndarray,
                 Q: np.ndarray) -> None:
        self.db, self.key, self.src = db, KEY, src
        self.X, self.tags, self.Q = X, tags, Q
        self.blocks: list[list[float]] = []   # plain point latencies, per block
        self.per_query: dict[int, list[float]] = {}  # the same, per query
        self.pq_latency: list[float] = []     # point latencies on the ``ef`` path
        self.point_recall: list[float] = []
        self.nprobe: dict[str, int] = {}
        self.issued = 0
        self._truth_n = -1

    def append(self, x: np.ndarray, tags: np.ndarray) -> None:
        self.X = np.concatenate([self.X, x])
        self.tags = np.concatenate([self.tags, tags])

    def truth(self) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-K rows and distances of every query over the current
        rows, recomputed only when rows were committed since."""
        if self._truth_n != len(self.X):
            self._truth = data.exact_topk(self.X, self.Q, K)
            self._truth_n = len(self.X)
        return self._truth


def point_block(ctx, st: State, pq_every: int = 0) -> None:
    """A closed loop of :data:`BLOCK` plain ``VecDB.search`` calls over the
    queries in turn, each timed by the wall clock and checked against the
    exact answer.  With ``pq_every``, every ``pq_every``-th query is also
    searched with ``ef``, so the knn_pq path serves it; that latency is
    kept apart."""
    db, key, Q = st.db, st.key, st.Q
    gt, _ = st.truth()
    led, lat = ctx.ledger, []

    def timed(qi: int, ef) -> float:
        q = Q[qi].tolist()
        t0 = time.perf_counter()
        hits = db.search(key, q, K) if ef is None else db.search(key, q, K, ef=ef)
        dt = time.perf_counter() - t0
        rows = data.point_answer(st.X, Q[qi], hits, K)
        if led.record(rows is not None, "point: answer check"):
            st.point_recall.append(len(set(rows.tolist()) & set(gt[qi].tolist())) / K)
        return dt

    with ctx.trace.span("phase.point"):
        for i in range(st.issued, st.issued + BLOCK):
            qi = i % len(Q)
            dt = timed(qi, None)
            lat.append(dt)
            st.per_query.setdefault(qi, []).append(dt)
            if pq_every and i % pq_every == pq_every - 1:
                st.pq_latency.append(timed(qi, EF_PQ_POINT))
    st.issued += BLOCK
    st.blocks.append(lat)


def probe(led, st: State, what: str) -> None:
    """Search for the newest row: it must come back first at distance ~0."""
    rid = len(st.X) - 1
    hits = st.db.search(st.key, st.X[rid].tolist(), K)
    ok = bool(hits) and int(hits[0][0]["rid"]) == rid and hits[0][1] <= 1e-4
    led.record(ok, f"{what}: newest row is top-1 at distance 0")
