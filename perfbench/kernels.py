"""Micro-timings of the compiled top-k kernels on fixed seeded tiles.

The tiles do not depend on ``--seed``: the kernels' inputs stay the same
between runs and commits.  Each kernel's answer is checked against the
numpy formulation it replaces before it is timed.  Alongside the time
per call the module reports the operation count and the bytes the call
reads and writes, computed from the tile shapes (a CPU run cannot
measure memory traffic)."""

from __future__ import annotations

import time

import numpy as np

from harness import median

S, N, KK = 64, 4096, 10          # dense_topk: queries × rows, kept per query
M, KSUB, EF = 22, 16, 80         # adc_topk: sub-spaces, centroids, kept per query
REPS = 50


def _time_us(fn) -> float:
    fn()
    samples = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return median(samples) * 1e6


def measure(ledger) -> dict[str, float]:
    from lab_1806_vec_db_spark.index import ckernel
    from lab_1806_vec_db_spark.operators.knn import np_round_half_up

    rng = np.random.default_rng(20261017)
    out: dict[str, float] = {}

    dt = rng.random((S, N))
    ids = np.arange(N, dtype=np.int64)
    got_ids, _ = ckernel.dense_topk(dt, ids, KK, True)
    r = np_round_half_up(dt)
    want = np.stack([np.lexsort((ids, row))[:KK] for row in r])
    ledger.record(np.array_equal(got_ids, want), "ckernel.dense_topk vs numpy")
    out["ckernel.dense_topk_us"] = _time_us(lambda: ckernel.dense_topk(dt, ids, KK, True))
    out["ckernel.dense_topk_ops"] = float(S * N)  # one rounded compare per cell
    out["ckernel.dense_topk_bytes"] = float(dt.nbytes + ids.nbytes + S * KK * 16)

    codes = rng.integers(0, KSUB, (N, M), dtype=np.uint8)
    lut = rng.random((S, M, KSUB)).astype(np.float32)
    got_ids, _, got_d = ckernel.adc_topk(codes, ids, lut, None, EF)
    sums = lut[:, np.arange(M)[None, :], codes].astype(np.float64).sum(-1)  # (S, N)
    want = np.stack([np.lexsort((ids, row))[:EF] for row in np_round_half_up(sums)])
    ledger.record(np.array_equal(got_ids, want), "ckernel.adc_topk vs numpy")
    out["ckernel.adc_topk_us"] = _time_us(lambda: ckernel.adc_topk(codes, ids, lut, None, EF))
    out["ckernel.adc_topk_ops"] = float(S * N * M)  # one table lookup-add each
    out["ckernel.adc_topk_bytes"] = float(
        codes.nbytes + ids.nbytes + lut.nbytes + S * EF * 24)
    return out
