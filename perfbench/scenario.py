"""The run every workload makes, and the two things that tell them apart.

Every run sets up a seeded table of clustered unit-norm vectors
(``VecDB.batch_add_df``), builds HNSW and IVF+PQ, makes its first point
search, and then runs the same two phases:

* the **read phase** (``read_phase.py``): batch calls over the six batch
  tiers with closed-loop blocks of ``VecDB.search`` point queries; PQ and
  IVF are built just before it;
* the **ingest phase** (``ingest_phase.py``): appends, each followed by a
  read-your-write search and a block of warm point searches, with
  ``force_save``;

and ends with ``close`` → ``VecDB(dir)`` → first search.  Every
end-to-end metric is therefore measured in every workload.  The workloads
differ in what a user of the library decides:

* ``read`` serves a table that nothing has written since it was loaded:
  the read phase comes first, with ``VecDB.executor_cache`` on (the
  library's setting for read-heavy serving, which pins IVF+PQ codes), and
  the appends come after it and must invalidate what the reads cached;
* ``ingest`` streams first, with ``executor_cache`` off (the library's
  advice under streaming ingest): the appends grow the table, PQ and IVF
  are built on the grown table (appends clear them by design), and the
  read phase serves a table of many files whose HNSW graph absorbed the
  appended rows through its tail sync.
"""

from __future__ import annotations

import numpy as np

import data
import ingest_phase
import read_phase
from harness import median, percentile
from table import State, probe

BUILDS = ("hnsw", "ivfpq", "pq", "ivf")


def _sizes(small: bool) -> dict:
    if small:
        return {"n": 2_000, "nq": 200}
    return {"n": 5_000, "nq": 1_000}


def _build(ctx, st: State, names, out: dict) -> None:
    """Build the named indexes on the table as it is now; IVF and IVF+PQ
    get √N clusters and probe half of them."""
    db, key = st.db, st.key
    nlist = int(np.sqrt(len(st.X)))
    calls = {
        "hnsw": lambda: db.build_hnsw_index(key, ef_construction=200),
        "ivfpq": lambda: db.build_ivfpq_index(key, k_coarse=nlist, m=22, n_bits=4,
                                              n_probes=nlist // 2),
        "pq": lambda: db.build_pq_table(key, train_proportion=0.2, n_bits=4, m=22),
        "ivf": lambda: (db.build_ivf_index(key, k=nlist),
                        db._get_index(key, "ivf").persist_data()),
    }
    for name in names:
        with ctx.trace.span(f"{name}.build") as s:
            calls[name]()
        out[f"{name}.build_s"] = s["s"]
        st.nprobe[name] = nlist // 2


def run(ctx) -> dict:
    from lab_1806_vec_db_spark.db.vecdb import VecDB

    spark, tr, led = ctx.spark, ctx.trace, ctx.ledger
    sz = _sizes(ctx.small)
    n = sz["n"]
    out: dict[str, float] = {}

    # ---- set-up: data, load, first search -----------------------------
    with tr.span("setup.generate") as s_gen:
        src = data.VectorSource(ctx.seed)
        X = src.draw(n)
        tags = src.tags(n)
        Q = src.draw(sz["nq"])
        frame = data.rows_frame(spark, X, tags, 0)
    home = ctx.path("db")
    db = VecDB(home, spark)
    db.executor_cache = ctx.workload == "read"
    st = State(db, src, X, tags, Q)
    setup_load_s, load_s = data.load_table(ctx, db, st.key, frame, n)
    out["vecdb.batch_add_df_rows_per_s"] = n / load_s

    # HNSW and IVF+PQ are live from here on: appends maintain both
    _build(ctx, st, ("hnsw", "ivfpq"), out)
    with tr.span("vecdb.first_search") as s_first:
        probe(led, st, "first search")
    out["vecdb.first_search_ms"] = s_first["s"] * 1e3
    out["setup_s"] = ctx.preamble_s + s_gen["s"] + setup_load_s + s_first["s"]

    # ---- the two orders ----------------------------------------------
    ctx.gc.active = True
    if ctx.workload == "read":
        _build(ctx, st, ("pq", "ivf"), out)
        read_phase.measure(ctx, st, out)
        ingest_phase.measure(ctx, st, out)
    else:
        ingest_phase.measure(ctx, st, out)
        _build(ctx, st, ("pq", "ivf"), out)
        read_phase.measure(ctx, st, out)
    ctx.gc.active = False
    out["build_s"] = sum(out[f"{name}.build_s"] for name in BUILDS)

    # one homogeneous sample, plain point searches with no appended rows
    # waiting (see README, Noise).  p50: the least-disturbed block's.  p99:
    # over the queries (1,000, so ten lie beyond it) of each one's median
    # latency over its repetitions, so the slowest queries set it and a
    # stall that hits a few searches at random does not
    out["point_p50_ms"] = min(percentile(b, 50) for b in st.blocks) * 1e3
    typical = [median(v) for v in st.per_query.values()]
    out["point_p99_ms"] = percentile(typical, 99) * 1e3
    out["vecdb.search_samples"] = float(sum(len(b) for b in st.blocks))
    out["vecdb.search_pq_p50_ms"] = percentile(st.pq_latency, 50) * 1e3
    out["recall.point"] = float(np.mean(st.point_recall))
    for tier, floor in read_phase.RECALL_FLOOR.items():
        led.record(out[f"recall.{tier}"] >= floor, f"recall.{tier} below {floor}")
    out["recall_at_10"] = float(np.mean([out[f"recall.{t}"] for t in read_phase.RECALL_FLOOR]))

    ingest_phase.reopen(ctx, st, home, out)
    hnsw = st.db._get_index(st.key, "hnsw")
    if hnsw is not None:
        ctx.closers.append(hnsw.close_pool)
    return out
