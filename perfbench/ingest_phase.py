"""The ingest phase: appends beside reads on a live table, and reopening.

One client runs a cycle per entry of :data:`SCHEDULE` with HNSW and
IVF+PQ live: commit an append (a ``VecDB.batch_add`` list, then a
``batch_add_df`` bulk frame), one read-your-write ``VecDB.search`` for
the row it just appended, a block of warm point searches, and
``force_save`` (which folds in auto-compaction).  The schedule is fixed,
not stretched to ``--seconds``: in ``ingest`` the read phase follows and
must serve the same number of rows in every run, whatever the append
path costs.  Appends clear PQ and IVF by design, so the batch tiers do
nothing here.

At the end of the run the table goes through ``close`` → ``VecDB(dir)``
→ first search (:func:`reopen`).
"""

from __future__ import annotations

import data
from harness import median
from table import State, point_block, probe

#: the appends: a list batch and a bulk frame (0 = ``batch_add_df`` of
#: ``df_rows``), each followed by ``force_save``.  The same every run, so
#: rows per second compares across seeds.
SCHEDULE = (64, 0)


def _sizes(small: bool) -> dict:
    return {"df_rows": 200 if small else 500}


def measure(ctx, st: State, out: dict) -> None:
    spark, tr, led = ctx.spark, ctx.trace, ctx.ledger
    db, key = st.db, st.key
    sz = _sizes(ctx.small)
    write_s, rows_committed = 0.0, 0
    fresh, add_ms = [], []
    with tr.span("phase.ingest"):
        for size in SCHEDULE:
            m = size or sz["df_rows"]
            x, tags = st.src.draw(m), st.src.tags(m)
            rid0 = len(st.X)
            if size == 0:
                df = data.rows_frame(spark, x, tags, rid0)
                with tr.span("vecdb.ingest_batch_add_df") as s:
                    db.batch_add_df(key, df, vec_col="vec", meta_cols=("rid", "tag"))
            else:
                vecs, metas = x.tolist(), data.metadata(rid0, tags)
                with tr.span("vecdb.batch_add") as s:
                    db.batch_add(key, vecs, metas)
                add_ms.append(s["s"] * 1e3)
            write_s += s["s"]
            st.append(x, tags)
            rows_committed += m
            led.record(db.get_len(key) == len(st.X), "append: get_len advanced by the rows")

            with tr.span("vecdb.fresh_read") as s:
                probe(led, st, "read-your-write")
            fresh.append(s["s"] * 1e3)
            point_block(ctx, st)

            with tr.span("vecdb.force_save") as s:
                db.force_save()
            write_s += s["s"]

    out["ingest_rows_per_s"] = rows_committed / write_s
    out["fresh_read_ms"] = median(fresh)
    out["vecdb.batch_add_ms"] = median(add_ms)
    out["vecdb.table_file_count"] = float(db.table_file_count(key))
    out["vecdb.ingest_batch_add_df_s"] = median(tr.durations("vecdb.ingest_batch_add_df"))
    out["vecdb.force_save_s"] = median(tr.durations("vecdb.force_save"))
    if tr.enabled:
        tr.resolve()
        out["vecdb.batch_add.jobs"] = tr.per_call("vecdb.batch_add", "jobs")
        out["vecdb.ingest_batch_add_df.jobs"] = tr.per_call("vecdb.ingest_batch_add_df", "jobs")
        out["vecdb.fresh_read.jobs"] = tr.per_call("vecdb.fresh_read", "jobs")


def reopen(ctx, st: State, home: str, out: dict) -> None:
    """``close`` → ``VecDB(dir)`` → first search; the probe and the length
    must agree with every row committed."""
    from lab_1806_vec_db_spark.db.vecdb import VecDB

    st.db.close()
    with ctx.trace.span("vecdb.reopen_first_search") as s:
        st.db = VecDB(home, ctx.spark)
        probe(ctx.ledger, st, "after reopen")
    out["vecdb.reopen_first_search_ms"] = s["s"] * 1e3
    ctx.ledger.record(st.db.get_len(st.key) == len(st.X), "after reopen: get_len")
